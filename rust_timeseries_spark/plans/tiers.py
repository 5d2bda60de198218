"""Continuous-aggregate tier store: materialization, incremental
maintenance, retention, compaction.

Physical layout (sandbox = parquet; on a cluster swap the writer for
Iceberg ``writeTo(...).overwritePartitions()`` — same plan shape):

    <base>/tier=1m/  partitioned by bucket_day, source
    <base>/tier=1h/  partitioned by bucket_day, source
    <base>/tier=1d/  partitioned by source

Incremental maintenance is **bucket-aligned recompute**: a new batch of
raw rows touches a set of day partitions; those partitions are
recomputed *from raw* and atomically replaced via dynamic partition
overwrite. This is idempotent by construction — replaying a partially
completed run converges to the same bytes, which is what makes the
pipeline resumable (SURVEY.md §4.3.3-5; the reference's warm-restart
analogue is ``Init::FixedVector``, src/duration/core/init.rs:140-144).
Late data is handled the same way: a late row simply makes its day
partition dirty again.

Retention: per-tier TTL deletes whole partitions (the cheap path — no
row rewrites); compaction coalesces small files inside a partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import rollup

_PARTITION_COLS = {"1m": ["bucket_day"], "1h": ["bucket_day"], "1d": []}


def _day_seconds(df: DataFrame, col: str) -> Column:
    """Epoch-second UTC day of a timestamp or epoch-second column."""
    es = rollup.epoch_seconds(F.col(col), dict(df.dtypes)[col])
    return es - F.pmod(es, F.lit(86400))


class TierStore:
    """Parquet-backed raw→1m→1h→1d continuous aggregates for one value
    column over one key set."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        keys: list[str] | None = None,
        ts_col: str = "ts",
        value_col: str = "n_tok",
        epoch: bool = True,
    ) -> None:
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.keys = keys if keys is not None else ["source"]
        self.ts_col = ts_col
        self.value_col = value_col
        self.epoch = epoch
        # schema of each tier as this store last wrote it, so reading it
        # back needs no schema-inference job
        self._schemas: dict[str, StructType] = {}
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- paths ---------------------------------------------------------------

    def tier_path(self, tier: str) -> str:
        return f"{self.base}/tier={tier}"

    def _with_day(self, tier_df: DataFrame) -> DataFrame:
        if self.epoch:
            day = F.col("bucket_ts") - F.pmod(F.col("bucket_ts"), F.lit(86400))
        else:
            day = F.date_trunc("day", F.col("bucket_ts"))
        return tier_df.withColumn("bucket_day", day)

    # -- build ---------------------------------------------------------------

    def cascade(self, raw_df: DataFrame) -> dict[str, DataFrame]:
        t1m = rollup.rollup_raw(raw_df, "1m", self.keys, self.ts_col, self.value_col, epoch=self.epoch)
        t1h = rollup.fold_up(t1m, "1h", self.keys, epoch=self.epoch)
        t1d = rollup.fold_up(t1h, "1d", self.keys, epoch=self.epoch)
        return {"1m": t1m, "1h": t1h, "1d": t1d}

    def materialize_full(self, raw_df: DataFrame) -> None:
        """Initial (or full-rebuild) materialization of all tiers."""
        tiers = self.cascade(raw_df)
        for tier, df in tiers.items():
            out = self._with_day(df) if _PARTITION_COLS[tier] else df
            if _PARTITION_COLS[tier]:
                # cluster by the partition column before the partitioned
                # write (Iceberg's write.distribution-mode=hash): without
                # it every aggregate task opens a file in every day dir
                # it holds rows for — ~32 tasks × |days| tiny files per
                # tier, paid again on every read's listing (guide §6)
                out = out.repartition(*_PARTITION_COLS[tier])
            writer = out.write.mode("overwrite")
            if _PARTITION_COLS[tier]:
                writer = writer.partitionBy(*_PARTITION_COLS[tier])
            writer.parquet(self.tier_path(tier))
            self._schemas[tier] = out.schema

    def _read(self, tier: str) -> DataFrame:
        """The stored tier, partition column included. A tier this store
        wrote is read with its written schema; one written elsewhere (a
        store reopened over an existing path) has its schema inferred."""
        reader = self.spark.read
        if tier in self._schemas:
            reader = reader.schema(self._schemas[tier])
        return reader.parquet(self.tier_path(tier))

    def read_tier(self, tier: str) -> DataFrame:
        df = self._read(tier)
        return df.drop("bucket_day") if "bucket_day" in df.columns else df

    # -- incremental maintenance --------------------------------------------

    def affected_days(self, batch_df: DataFrame) -> list[int]:
        day = _day_seconds(batch_df, self.ts_col)
        return sorted(r[0] for r in batch_df.select(day.alias("d")).distinct().collect())

    def merge_increment(self, full_raw_df: DataFrame, batch_df: DataFrame) -> dict[int, int]:
        """Recompute the day partitions touched by ``batch_df`` from the
        raw source of truth and atomically replace them (idempotent
        MERGE-equivalent keyed on (keys, bucket_ts)). Returns the days
        replaced, in order, each mapped to its number of 1h rows.

        The dirty days' 1m rollup is computed once and held in memory
        for the call: both the 1m and the 1h partitions are written from
        it, and the 1d tier becomes the old 1d's other days plus a fold
        of the dirty 1h, so no tier is re-read in full. The 1d rows of
        days already expired from 1h are kept.

        At scale ``full_raw_df`` is the Iceberg token table: partition
        pruning reduces the recompute scan to exactly the dirty days.
        """
        days = self.affected_days(batch_df)
        if not days:
            return {}
        dirty_raw = full_raw_df.where(_day_seconds(full_raw_df, self.ts_col).isin(days))
        t1m = rollup.rollup_raw(
            dirty_raw, "1m", self.keys, self.ts_col, self.value_col, epoch=self.epoch
        ).persist()
        try:
            t1h = rollup.fold_up(t1m, "1h", self.keys, epoch=self.epoch)
            # the per-day 1h row counts ride the 1h write: no extra job
            obs = Observation()
            day = _day_seconds(t1h, "bucket_ts")
            counted = t1h.observe(obs, *[F.count_if(day == d).alias(str(d)) for d in days])
            for tier, df in (("1m", t1m), ("1h", counted)):
                # dynamic partition overwrite: only the dirty bucket_day
                # dirs. Clustered by day first — same one-file-per-day
                # write shape as materialize_full (guide §6)
                out = self._with_day(df).repartition("bucket_day")
                out.write.mode("overwrite").partitionBy("bucket_day").parquet(self.tier_path(tier))
                self._schemas[tier] = out.schema
            counts = obs.get
            day_rows = {d: counts[str(d)] for d in days if counts[str(d)]}
            t1d = rollup.fold_up(t1h, "1d", self.keys, epoch=self.epoch)
            final = self.tier_path("1d")
            if os.path.exists(final):
                old = self.spark.read.schema(t1d.schema).parquet(final)
                t1d = old.where(~_day_seconds(old, "bucket_ts").isin(list(day_rows))).unionByName(t1d)
            tmp = final + "_tmp"
            # one file: the 1d tier holds only |keys| × |days| rows
            t1d.coalesce(1).write.mode("overwrite").parquet(tmp)
            self._schemas["1d"] = t1d.schema
        finally:
            t1m.unpersist(blocking=True)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return day_rows

    # -- retention & compaction ----------------------------------------------

    def expire(self, tier: str, cutoff_bucket_day: int) -> int:
        """Drop partitions strictly older than the cutoff (epoch s).
        Whole-directory deletes — no row rewrites. Returns #partitions
        dropped.

        Partition directory values are epoch-second ints when the store
        was built with ``epoch=True`` and URL-encoded timestamp strings
        (``2024-01-01 00%3A00%3A00``) with ``epoch=False`` — both are
        parsed; an unparseable value raises instead of silently skipping
        (retention must never no-op)."""
        path = self.tier_path(tier)
        if not _PARTITION_COLS[tier]:
            raise ValueError(f"tier {tier} has no day partitions to expire")
        dropped = 0
        if not os.path.isdir(path):
            return 0
        for name in os.listdir(path):
            if not name.startswith("bucket_day="):
                continue
            day_num = self._parse_partition_day(name.split("=", 1)[1])
            if day_num < cutoff_bucket_day:
                shutil.rmtree(os.path.join(path, name))
                dropped += 1
        return dropped

    @staticmethod
    def _parse_partition_day(day_val: str) -> int:
        """Partition value → epoch seconds. Handles the epoch-bigint
        encoding and the timestamp-string encoding Spark writes for
        ``epoch=False`` stores (URL-escaped, e.g. ``%3A`` for ``:``)."""
        from datetime import datetime, timezone
        from urllib.parse import unquote

        try:
            return int(float(day_val))
        except ValueError:
            pass
        decoded = unquote(day_val)
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d"):
            try:
                return int(datetime.strptime(decoded, fmt).replace(tzinfo=timezone.utc).timestamp())
            except ValueError:
                continue
        raise ValueError(
            f"cannot parse bucket_day partition value {day_val!r}; "
            "retention would silently skip this partition"
        )

    def compact(self, tier: str, target_files_per_partition: int = 1) -> None:
        """Rewrite a tier with coalesced files (Iceberg
        rewrite_data_files analogue). For day-partitioned tiers each
        ``bucket_day`` directory ends with ~``target_files_per_partition``
        files: rows are exchanged on (bucket_day, salt) so each day gets
        that many writing tasks (review r4 — a plain
        ``repartition(N, "bucket_day")`` hashes a whole day to ONE task,
        so the parameter silently did nothing)."""
        df = self._read(tier)
        tmp = self.tier_path(tier) + "_compact"
        n = max(1, int(target_files_per_partition))
        if _PARTITION_COLS[tier] and "bucket_day" in df.columns:
            salt_src = [c for c in df.columns if c != "bucket_day"]
            out = df.withColumn("_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n)))
            writer = (
                out.repartition("bucket_day", "_salt").drop("_salt")
                .write.mode("overwrite").partitionBy("bucket_day")
            )
        else:
            writer = df.coalesce(n).write.mode("overwrite")
        writer.parquet(tmp)
        final = self.tier_path(tier)
        shutil.rmtree(final)
        os.rename(tmp, final)
