"""Seeded token-table generator for the benchmark (FIXTURES.md F-1).

The recipe is F-1's, written out here so that a change to the
package's own ``datagen`` never changes the benchmark's inputs:

* ``doc_id = f"doc-{i:012d}"``;
* ``n_tok = 1 + xxhash64(doc_id, seed, "len") % max_len`` and
  ``tokens`` holds ``n_tok`` ids ``xxhash64(doc_id, seed, j) % 50257``,
  so ``n_tok == size(tokens)`` on every row;
* ``source`` is a Zipf draw (weight ∝ 1/(rank+1)) over 20 names through
  a 1000-slot inverse-CDF table indexed by ``xxhash64(doc_id, seed,
  "src")``;
* the event time is derived, never stored: ``ts = epoch +
  xxhash64(doc_id, seed, "ts") % horizon_seconds``.

Everything is a Spark SQL expression, so rows are generated in the JVM
and the program under test only ever sees the staged parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCES = [
    "web", "code", "books", "wiki", "news", "forums", "papers", "social",
    "docs", "mail", "chat", "legal", "patents", "subtitles", "recipes",
    "reviews", "qa", "logs", "transcripts", "misc",
]
VOCAB = 50257
EPOCH_UNIX = 1767225600  # 2026-01-01T00:00:00Z, a day boundary
DAY = 86400


def _zipf_slots(n_slots: int = 1000) -> list[str]:
    weights = [1.0 / (i + 1.0) for i in range(len(SOURCES))]
    total = sum(weights)
    slots: list[str] = []
    for name, w in zip(SOURCES, weights):
        slots.extend([name] * max(1, round(w / total * n_slots)))
    return (slots + [SOURCES[0]] * n_slots)[:n_slots]


def _h(seed: int, salt) -> Column:
    return F.xxhash64(F.col("doc_id"), F.lit(seed), salt if isinstance(salt, Column) else F.lit(salt))


def event_seconds(seed: int, horizon_seconds: int) -> Column:
    """Epoch seconds of each row's derived event time."""
    return F.lit(EPOCH_UNIX) + F.pmod(_h(seed, "ts"), F.lit(horizon_seconds))


def with_ts(df: DataFrame, seed: int, horizon_seconds: int) -> DataFrame:
    """Attach the derived ``ts`` timestamp column."""
    return df.withColumn("ts", F.timestamp_seconds(event_seconds(seed, horizon_seconds)))


def token_table(spark: SparkSession, n_rows: int, seed: int, max_len: int, partitions: int) -> DataFrame:
    """``(doc_id, tokens, n_tok, source)`` rows, a pure function of
    ``(n_rows, seed, max_len)``."""
    slots = _zipf_slots()
    df = spark.range(0, n_rows, 1, numPartitions=partitions)
    df = df.withColumn("doc_id", F.format_string("doc-%012d", F.col("id")))
    n_tok = (F.pmod(_h(seed, "len"), F.lit(max_len)) + F.lit(1)).cast("int")
    return df.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda j: F.pmod(_h(seed, j), F.lit(VOCAB)).cast("int"),
        ).alias("tokens"),
        n_tok.alias("n_tok"),
        F.element_at(
            F.array(*[F.lit(s) for s in slots]),
            (F.pmod(_h(seed, "src"), F.lit(len(slots))) + F.lit(1)).cast("int"),
        ).alias("source"),
    )


def arrival_schedule(seed: int, horizon_days: int, bootstrap_days: int, late_lag_days: int,
                     late_share: float) -> tuple[Column, int]:
    """Arrival id for each row of a table spread over ``horizon_days``.

    Arrival 0 is the bootstrap: every row of days ``< bootstrap_days``.
    Each later day ``d`` arrives as three calls: two append half-batches
    of day ``d`` (split by hash), then a late batch holding the
    ``late_share`` slice of day ``d - late_lag_days`` that the bootstrap
    withheld. Returns the column and the number of calls after the
    bootstrap."""
    day = F.floor((event_seconds(seed, horizon_days * DAY) - F.lit(EPOCH_UNIX)) / F.lit(DAY)).cast("long")
    frac = F.pmod(_h(seed, "arrival"), F.lit(10_000)) / F.lit(10_000.0)
    late_for = day + F.lit(late_lag_days)
    is_late = (frac < F.lit(late_share)) & (late_for >= bootstrap_days) & (late_for < horizon_days)
    call_base = (day - F.lit(bootstrap_days)) * F.lit(3)
    arrival = (
        F.when(is_late, (late_for - F.lit(bootstrap_days)) * F.lit(3) + F.lit(3))
        .when(day < bootstrap_days, F.lit(0))
        .when(frac < F.lit(0.5), call_base + F.lit(1))
        .otherwise(call_base + F.lit(2))
    )
    return arrival.cast("int").alias("arrival"), 3 * (horizon_days - bootstrap_days)
