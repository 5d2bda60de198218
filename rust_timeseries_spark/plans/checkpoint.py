"""Checkpoint / lineage / metrics tables for resumable runs.

Three small parquet tables under ``<base>/_meta``:

* ``lineage`` — one row per completed unit of work
  ``(run_id, tier, bucket_day, n_rows)``; a unit is
  re-run only if absent (the merge itself is idempotent, so replaying a
  half-finished run is safe — lineage only avoids wasted work).
* ``watermark`` — per-key recursion state
  ``(key..., tier, last_bucket_ts, psi_lags array<double>,
  dur_lags array<double>)``: the ψ/EWMA warm-start vector. Seeding the
  next run's kernel with these is exactly the reference's
  ``Init::FixedVector`` resume semantics (src/duration/core/init.rs:
  140-144, SimStart options.rs:450-454) and reproduces the
  uninterrupted ψ path bit-for-bit (tests/test_recursion.py
  ``test_segment_scan_tolerance_parity`` shows exact segment resume).
  Replaced whole on every save, through a staging directory.
* ``metrics`` — per-run counters ``(run_id, name, value)``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("tier", T.StringType()),
        T.StructField("bucket_day", T.LongType()),
        T.StructField("n_rows", T.LongType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class MetaStore:
    """The ``_meta`` tables. Rows built on the driver become frames
    through one Arrow table (no Python-worker round trip), every append
    writes one file, and each table is read with its fixed schema, so
    no schema-inference job runs."""

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self.spark = spark
        self.base = base_path.rstrip("/") + "/_meta"

    def _frame(self, rows: list[tuple], schema: T.StructType) -> DataFrame:
        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [() for _ in schema]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
        )
        return self.spark.createDataFrame(table, schema)

    def _write(self, rows: list[tuple], schema: T.StructType, name: str, mode: str) -> None:
        self._frame(rows, schema).coalesce(1).write.mode(mode).parquet(f"{self.base}/{name}")

    def _hadoop_path(self, name: str):
        """``(FileSystem, Path)`` of one meta table, for whatever
        filesystem the base path lives on."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.base}/{name}")
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), path

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        # only a MISSING table means "not created yet" — any other read
        # failure (corrupt footer, permissions, transient FS error) must
        # propagate: silently returning an empty frame here would reset
        # every watermark and reseed the recursions with wrong values.
        # Checked up front rather than by catching the failed read, which
        # a registered Observation's listener would log as an error
        fs, path = self._hadoop_path(name)
        if not fs.exists(path):
            return self._frame([], schema)
        return self.spark.read.schema(schema).parquet(f"{self.base}/{name}")

    # -- lineage -------------------------------------------------------------

    def record_lineage(self, run_id: str, tier: str, day_rows: list[tuple[int, int]]) -> None:
        rows = [(run_id, tier, int(d), int(n)) for d, n in day_rows]
        self._write(rows, LINEAGE_SCHEMA, "lineage", "append")

    def lineage(self) -> DataFrame:
        return self._read("lineage", LINEAGE_SCHEMA)

    def completed_days(self, tier: str) -> set[int]:
        return {
            r["bucket_day"]
            for r in self.lineage().where(F.col("tier") == tier).select("bucket_day").distinct().collect()
        }

    # -- recursion watermarks (FixedVector warm start) -----------------------

    def watermark_schema(self, keys: list[str]) -> T.StructType:
        return T.StructType(
            [
                *[T.StructField(k, T.StringType()) for k in keys],
                T.StructField("tier", T.StringType()),
                T.StructField("last_bucket_ts", T.LongType()),
                T.StructField("psi_lags", T.ArrayType(T.DoubleType())),
                T.StructField("dur_lags", T.ArrayType(T.DoubleType())),
            ]
        )

    def save_watermarks(self, keys: list[str], rows: list[tuple]) -> None:
        """Replace the whole (small) table with ``rows``, given in
        :meth:`watermark_schema` order: written to a staging directory,
        then renamed over the table. The rows are already on the driver,
        so nothing reads the table being replaced."""
        self._write(rows, self.watermark_schema(keys), "watermark_staging", "overwrite")
        fs, final = self._hadoop_path("watermark")
        _, staged = self._hadoop_path("watermark_staging")
        fs.delete(final, True)
        if not fs.rename(staged, final):
            raise OSError(f"could not rename {staged} to {final}")

    def watermarks(self, keys: list[str]) -> DataFrame:
        return self._read("watermark", self.watermark_schema(keys))

    # -- metrics -------------------------------------------------------------

    def record_metrics(self, run_id: str, metrics: dict[str, float]) -> None:
        rows = [(run_id, k, float(v)) for k, v in metrics.items()]
        self._write(rows, METRICS_SCHEMA, "metrics", "append")

    def metrics(self) -> DataFrame:
        return self._read("metrics", METRICS_SCHEMA)
