import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_timeseries_spark import datagen
from rust_timeseries_spark.plans.pipeline import RollupPipeline
from rust_timeseries_spark.plans.tiers import TierStore

#: jobs the append ``run_increment`` below may launch
JOBS_PER_APPEND = 20


@pytest.fixture()
def raw(spark):
    return datagen.with_event_time(datagen.token_table(spark, 3000)).select(
        "doc_id", "source", "ts", "n_tok"
    )


def _tier_dict(df):
    return {tuple(r[:2]): tuple(r[2:]) for r in
            df.select("source", "bucket_ts", "tok_sum", "tok_count", "tok_min", "tok_max").collect()}


def test_materialize_and_read_roundtrip(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    for tier in ("1m", "1h", "1d"):
        got = _tier_dict(store.read_tier(tier))
        exp = _tier_dict(store.cascade(raw)[tier])
        assert got == exp


def _raw_day(raw):
    from rust_timeseries_spark.operators.rollup import epoch_seconds

    es = epoch_seconds(F.col("ts"), dict(raw.dtypes)["ts"])
    return es - F.pmod(es, F.lit(86400))


def _check_incremental_equals_full(store, raw):
    # day-based split: first materialize the early part, then merge the rest
    cut = raw.approxQuantile("n_tok", [0.5], 0)[0]  # arbitrary row split
    part1 = raw.where(F.col("n_tok") <= cut)
    part2 = raw.where(F.col("n_tok") > cut)
    store.materialize_full(part1)
    store.merge_increment(raw, part2)
    for tier in ("1m", "1h", "1d"):
        got = _tier_dict(store.read_tier(tier))
        exp = _tier_dict(store.cascade(raw)[tier])
        assert got == exp


def test_incremental_equals_full(spark, raw, tmp_path):
    _check_incremental_equals_full(TierStore(spark, str(tmp_path / "tiers")), raw)


def test_incremental_equals_full_timestamp_store(spark, raw, tmp_path):
    # epoch=False: bucket_ts is a timestamp, and the 1d rebuild's day
    # filter must still match the replaced day partitions
    _check_incremental_equals_full(TierStore(spark, str(tmp_path / "tiers_ts"), epoch=False), raw)


def _jobs_of(spark, group, fn):
    """Run ``fn`` under its own job group; its result and job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("epoch", [True, False])
def test_read_tier_uses_written_schema(spark, raw, tmp_path, epoch):
    # a tier this store wrote reads back with its written schema: no
    # schema-inference job, and the same schema and rows as the inferred
    # read of a store reopened over the same path
    path = str(tmp_path / f"tiers_{epoch}")
    store = TierStore(spark, path, epoch=epoch)
    store.materialize_full(raw)
    day = _raw_day(raw)
    last = raw.select(F.max(day)).collect()[0][0]
    store.merge_increment(raw, raw.where(day == last))
    reopened = TierStore(spark, path, epoch=epoch)
    for tier in ("1m", "1h", "1d"):
        got, jobs = _jobs_of(spark, f"read-{epoch}-{tier}", lambda: store.read_tier(tier))
        assert jobs == [], tier
        inferred = reopened.read_tier(tier)
        assert got.schema == inferred.schema, tier
        assert got.exceptAll(inferred).count() == 0 and inferred.exceptAll(got).count() == 0, tier


def test_merge_keeps_1d_rows_of_expired_days(spark, raw, tmp_path):
    # the 1d tier is rebuilt from its own untouched days plus the dirty
    # days, not from the 1h tier, so expiring 1h history keeps the 1d
    # rows of those days through later merges
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    day = _raw_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    assert store.expire("1h", days[2]) == 2
    store.merge_increment(raw, raw.where(day == days[-1]))
    assert _tier_dict(store.read_tier("1d")) == _tier_dict(store.cascade(raw)["1d"])
    assert store.read_tier("1h").agg(F.min("bucket_ts")).collect()[0][0] >= days[2]


def test_merge_is_idempotent(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    before = _tier_dict(store.read_tier("1h"))
    # replay the same batch twice (simulates a retried half-finished run)
    batch = raw.limit(500)
    store.merge_increment(raw, batch)
    store.merge_increment(raw, batch)
    assert _tier_dict(store.read_tier("1h")) == before


def test_retention_expiry(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    days = sorted({r[0] for r in store.read_tier("1m").select(
        (F.col("bucket_ts") - F.pmod(F.col("bucket_ts"), F.lit(86400))).alias("d")).distinct().collect()})
    assert len(days) > 2
    cutoff = days[2]
    dropped = store.expire("1m", cutoff)
    assert dropped == 2
    remaining = store.read_tier("1m").agg(F.min("bucket_ts")).collect()[0][0]
    assert remaining >= cutoff


def test_retention_expiry_timestamp_partitions(spark, raw, tmp_path):
    # epoch=False stores write bucket_day as URL-encoded timestamp
    # strings; expire must parse those (round-1 defect: int(float(...))
    # failed and retention silently dropped nothing)
    store = TierStore(spark, str(tmp_path / "tiers_ts"), epoch=False)
    store.materialize_full(raw)
    days = sorted({r[0] for r in store.read_tier("1m").select(
        F.date_trunc("day", F.col("bucket_ts")).alias("d")).distinct().collect()})
    assert len(days) > 2
    cutoff = int(days[2].replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    dropped = store.expire("1m", cutoff)
    assert dropped == 2
    remaining = store.read_tier("1m").agg(F.min("bucket_ts")).collect()[0][0]
    assert int(remaining.replace(tzinfo=__import__("datetime").timezone.utc).timestamp()) >= cutoff


def test_retention_raises_on_unparseable_partition(spark, raw, tmp_path):
    import os

    store = TierStore(spark, str(tmp_path / "tiers_bad"))
    store.materialize_full(raw)
    os.makedirs(os.path.join(store.tier_path("1m"), "bucket_day=garbage"))
    with pytest.raises(ValueError, match="cannot parse bucket_day"):
        store.expire("1m", 10 ** 12)


def test_merge_overlapping_out_of_order_batches(spark, raw, tmp_path):
    # the Iceberg MERGE INTO story as far as the sandbox allows: three
    # OVERLAPPING batches arrive out of event-time order, one is
    # replayed twice (retry), against two independent materializations —
    # both stores converge to the full cascade and tier_diff is empty
    from rust_timeseries_spark.operators.rollup import epoch_seconds, tier_diff

    es = epoch_seconds(F.col("ts"), dict(raw.dtypes)["ts"])
    day = (es - F.pmod(es, F.lit(86400))).alias("d")
    days = sorted(r["d"] for r in raw.select(day).distinct().collect())
    mid = days[len(days) // 2]
    late = raw.where(es - F.pmod(es, F.lit(86400)) >= mid)          # newest days first
    early = raw.where(es - F.pmod(es, F.lit(86400)) < mid)
    overlap = raw.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0)  # spans both ranges

    a = TierStore(spark, str(tmp_path / "store_a"))
    a.materialize_full(late)              # out-of-order: late data lands first
    a.merge_increment(raw, early)
    a.merge_increment(raw, overlap)       # overlapping upsert
    a.merge_increment(raw, overlap)       # replayed retry

    b = TierStore(spark, str(tmp_path / "store_b"))
    b.materialize_full(raw)               # single-shot reference materialization

    for tier in ("1m", "1h", "1d"):
        assert _tier_dict(a.read_tier(tier)) == _tier_dict(a.cascade(raw)[tier])
        assert tier_diff(a.read_tier(tier), b.read_tier(tier)).count() == 0


def test_pipeline_lineage_metrics_and_ewma_resume(spark, raw, tmp_path):
    base = str(tmp_path / "p")
    pipe = RollupPipeline(spark, base)
    # split raw by event-time: first 4 days, then the rest
    dtype = dict(raw.dtypes)["ts"]
    from rust_timeseries_spark.operators.rollup import epoch_seconds
    es = epoch_seconds(F.col("ts"), dtype)
    day = es - F.pmod(es, F.lit(86400))
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    cut_day = days[4]
    early = raw.where(day < cut_day)
    late = raw.where(day >= cut_day)

    pipe.store.materialize_full(early)
    pipe._advance_ewma_watermarks(pipe.store.read_tier("1h"))
    wm1 = {r["source"]: (r["last_bucket_ts"], r["psi_lags"], r["dur_lags"])
           for r in pipe.meta.watermarks(["source"]).collect()}
    assert wm1

    # continue on the late buckets from the checkpoint
    m = pipe.run_increment(raw, late, run_id="r2")
    assert m["n_batch_rows"] > 0
    assert pipe.meta.completed_days("1h")

    t1h_all = pipe.store.read_tier("1h")

    # rebuild watermarks as of the early prefix, then continue
    early_t1h = TierStore(spark, base + "2").cascade(early)["1h"]
    pipe._advance_ewma_watermarks(early_t1h)
    wm_ts = {r["source"]: r["last_bucket_ts"] for r in pipe.meta.watermarks(["source"]).collect()}
    cont = pipe.ewma_continue(t1h_all).orderBy("source", "t").collect()
    assert cont

    # numpy oracle: uninterrupted recursion over the FULL series, seeded
    # exactly as the first run was (sample mean of the early prefix) —
    # the continuation must match its tail bit-for-bit
    from rust_timeseries_spark.operators import recursion as rec
    alpha = pipe.ewma_alpha
    series = {}
    for r in pipe._ewma_series(t1h_all).orderBy("source", "t").collect():
        series.setdefault(r["source"], []).append((r["t"], r["v"]))
    early_means = {
        r["source"]: r["m"]
        for r in pipe._ewma_series(early_t1h).groupBy("source").agg(F.avg("v").alias("m")).collect()
    }
    expected = {}
    for k, pts in series.items():
        x = np.array([v for _, v in pts])
        m = early_means[k]
        psi = rec.psi_recursion_np(
            x, 0.0, np.array([alpha]), np.array([1 - alpha]),
            np.array([m]), np.array([m]), guards=(-np.inf, np.inf),
        )
        expected[k] = dict(zip([t for t, _ in pts], psi))
    for r in cont:
        assert r["t"] > wm_ts[r["source"]]
        assert expected[r["source"]][r["t"]] == r["psi"], (r["source"], r["t"])


def test_iceberg_ddl_contract_text():
    # the cluster contract is pinned: drift in any emitted statement is
    # a contract change and must be reviewed here
    from rust_timeseries_spark.plans.iceberg_ddl import IcebergTierPlan

    p = IcebergTierPlan(catalog="lake", namespace="tiers", table_prefix="tokens")
    confs = p.session_confs()
    assert confs["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.extensions"].endswith("IcebergSparkSessionExtensions")
    assert confs["spark.sql.catalog.lake.type"] == "rest"
    assert "iceberg-spark-runtime" in confs["spark.jars.packages"]

    ddl = p.create_table("1m")
    assert "CREATE TABLE IF NOT EXISTS lake.tiers.tokens_1m" in ddl
    assert "PARTITIONED BY (bucket_day)" in ddl
    assert "'format-version' = '2'" in ddl
    assert "PARTITIONED BY" not in p.create_table("1d")  # 1d is unpartitioned

    ow = p.overwrite_dirty_days("1m", [0, 86400])
    assert ow == (
        "INSERT OVERWRITE lake.tiers.tokens_1m\n"
        "SELECT * FROM tmp_view\n"
        "WHERE bucket_day IN (0, 86400)"
    )

    mg = p.merge_upsert("1m")
    assert "MERGE INTO lake.tiers.tokens_1m t" in mg
    assert "ON t.source = s.source AND t.bucket_ts = s.bucket_ts" in mg
    assert "t.tok_sum = t.tok_sum + s.tok_sum" in mg
    assert "t.tok_min = LEAST(t.tok_min, s.tok_min)" in mg
    assert "t.tok_max = GREATEST(t.tok_max, s.tok_max)" in mg

    exp = p.expire_sql("1h", 864000)
    assert exp[0] == "DELETE FROM lake.tiers.tokens_1h WHERE bucket_day < 864000"
    assert "expire_snapshots" in exp[1] and "lake.system" in exp[1]
    assert "rewrite_data_files" in p.compact_call("1h")
    assert "remove_orphan_files" in p.remove_orphans_call("1h")

    import pytest
    with pytest.raises(ValueError):
        p.expire_sql("1d", 0)
    with pytest.raises(ValueError):
        p.overwrite_dirty_days("1d", [0])

    doc = p.render()
    for frag in ("-- session configs", "-- DDL", "-- incremental maintenance",
                 "-- streaming late-row MERGE", "-- retention", "-- compaction"):
        assert frag in doc


def test_iceberg_ddl_statements_parse(spark):
    # the SQL statements must be valid Spark SQL: run them through the
    # session's parser (catalog resolution is a cluster concern, parsing
    # is not). CALL procedures are Iceberg-extension grammar and are
    # text-pinned above instead.
    from rust_timeseries_spark.plans.iceberg_ddl import IcebergTierPlan

    p = IcebergTierPlan()
    parser = spark._jsparkSession.sessionState().sqlParser()
    stmts = [
        *p.create_tables(),
        p.overwrite_dirty_days("1m", [0, 86400]),
        p.overwrite_dirty_days("1h", [0]),
        p.merge_upsert("1m"),
        p.merge_upsert("1d"),
        p.expire_sql("1m", 123)[0],
    ]
    for s in stmts:
        parser.parsePlan(s)  # raises ParseException on bad syntax


def test_write_clustered_layout(spark, tmp_path):
    """Files are per-partition-directory, row counts respect the cap,
    and within each directory the per-file ts ranges are tight and
    non-overlapping (the parquet min/max pruning contract)."""
    import glob
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from rust_timeseries_spark.plans import layout

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", "ts", "value"
    )
    out = str(tmp_path / "clustered")
    layout.write_clustered(
        ev, out, partition_by=["event_type"], cluster_by=["ts"],
        max_records_per_file=50,
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    for d in glob.glob(f"{out}/event_type=*"):
        ranges = []
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            t = pq.read_table(f, columns=["ts"])
            assert t.num_rows <= 50
            col = t.column("ts").to_pylist()
            ranges.append((min(col), max(col)))
        # non-overlapping when sorted by start (each file a tight range)
        ranges.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            assert a_hi <= b_lo, (a_hi, b_lo)


@pytest.fixture()
def append_increment(spark, raw, tmp_path):
    """A pipeline bootstrapped on the first four days, then one append
    ``run_increment`` over the rest run under its own job group:
    ``(pipe, returned metrics, job ids of the append)``."""
    pipe = RollupPipeline(spark, str(tmp_path / "p"))
    day = _raw_day(raw)
    cut_day = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())[4]
    early = raw.where(day < cut_day)
    pipe.run_increment(early, early, run_id="r1")
    sc = spark.sparkContext
    group = f"append-{tmp_path.name}"
    sc.setJobGroup(group, "append run_increment")
    try:
        m = pipe.run_increment(raw, raw.where(day >= cut_day), run_id="r2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return pipe, m, list(sc.statusTracker().getJobIdsForGroup(group))


def test_append_increment_job_count(append_increment):
    # a re-scan or re-read that creeps back into run_increment (a second
    # raw cascade, a whole-tier read, a schema-inference job) fails here
    _, _, jobs = append_increment
    assert len(jobs) <= JOBS_PER_APPEND, len(jobs)


def test_increment_phase_metrics(append_increment):
    pipe, m, _ = append_increment
    phases = ("merge_s", "lineage_s", "watermark_s")
    assert sum(m[k] for k in phases) <= m["wall_seconds"]
    stored = {r["name"]: r["value"] for r in pipe.meta.metrics().where(F.col("run_id") == "r2").collect()}
    assert {"wall_seconds", *phases} <= set(stored)
    assert all(stored[k] >= 0 for k in phases)
    assert sum(stored[k] for k in phases) <= stored["wall_seconds"]
