"""The benchmark's three workloads.

Each is a closed loop with one caller: the single driver process issues
the next operation only after the previous one returned. Each workload
stages its inputs (set-up), runs operations until ``seconds`` have
passed and at least MIN_OPS ran, then checks every output outside the
timed section. A failed check counts as a failed operation.
"""

from __future__ import annotations

import glob
import inspect
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import tree_cpu_s
from stats import median, percentile, tail_percentile

SETUP_REPS = 2  # staging runs this often; set-up reports the median
MIN_OPS = 3  # a median needs a few samples even when one call outlasts the run

# tier_build: one seeded token table built into all tiers per operation
BUILD_ROWS = 100_000
BUILD_MAX_LEN = 32
BUILD_HORIZON_DAYS = 28

# tier_increment: days 0-19 bootstrapped, days 20-27 arrive as calls
INC_ROWS = 60_000
INC_HORIZON_DAYS = 28
INC_BOOTSTRAP_DAYS = 20
INC_LATE_LAG_DAYS = 10
INC_LATE_SHARE = 0.02

# query_suite: the fixed data set shipped with the benchmark
SUITE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
SUITE_SHARE = 9  # one query in SUITE_SHARE per module family, rounded up

# a query's family is the first package module (in this priority order)
# that its source, or a helper it calls, refers to
FAMILY_RULES = [
    ("streaming", r"readStream|writeStream|\bstreaming\b|rollup_stream|ewma_stream|dedup_stream"),
    ("dedup", r"dedup_ops|decontam"),
    ("similarity", r"sim_ops|retrieval|graph_ops"),
    ("multimodal", r"multimodal|jpeg"),
    ("textops", r"textops|urlops|jsonl|csvsrc"),
    ("stats", r"acd_stats|el_stats|hac_stats|recursion\.|sampling|heavyhitters|journeys|audit"),
    ("rolling", r"rolling\.|gapfill\."),
    ("rollup", r"rollup\.|compress_ops|TierStore|tiers"),
]
FAMILIES = [f for f, _ in FAMILY_RULES] + ["relational"]


@dataclass
class Metric:
    value: float
    unit: str
    n: int = 1


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: object


@dataclass
class Op:
    """One timed operation; ``group`` is its Spark job group."""
    group: str
    kind: str
    wall: float
    start: float  # epoch seconds
    end: float
    cpu: float  # CPU seconds of the driver, the JVM and the Python workers


@dataclass
class Outcome:
    attempted: int
    failed: int
    setup_s: float
    ops: list[Op]
    work_per_s: Metric
    named: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    probes: list[Op] = field(default_factory=list)  # traced run only, not timed
    notes: list[str] = field(default_factory=list)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_setup(fn, reps: int) -> tuple[list[float], object]:
    """Run ``fn(rep)`` ``reps`` times; returns the walls and the last
    result."""
    walls, last = [], None
    for r in range(reps):
        t = time.perf_counter()
        last = fn(r)
        walls.append(time.perf_counter() - t)
    return walls, last


def run_op(ctx: Ctx, group: str, kind: str, body) -> Op:
    """Time ``body()`` as one operation under job group ``group``."""
    c0 = tree_cpu_s(os.getpid())
    e0, t0 = time.time(), time.perf_counter()
    with ctx.tracer.op(group, kind=kind):
        body()
    wall, e1 = time.perf_counter() - t0, time.time()
    return Op(group, kind, wall, e0, e1, tree_cpu_s(os.getpid()) - c0)


def _loop(ctx: Ctx, n_max: int, op) -> list[Op]:
    """Closed loop: ``op(i)`` for i = 0.. until ``ctx.seconds`` pass and
    at least MIN_OPS calls ran, or ``n_max`` calls ran."""
    out: list[Op] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(out) < n_max and (len(out) < MIN_OPS or time.perf_counter() < t_end):
        out.append(op(len(out)))
    return out


def _tier_files(store_base: str) -> set[str]:
    """Data files of a TierStore's tiers (its ``_meta`` tables excluded)."""
    return set(glob.glob(os.path.join(store_base, "tier=*", "**", "*.parquet"), recursive=True))


def _walls(ops: list[Op]) -> str:
    return ",".join(f"{o.kind[0]}{o.wall:.2f}" for o in ops)


# ---------------------------------------------------------------------------
# tier_build
# ---------------------------------------------------------------------------

def _build(ctx: Ctx, path: str, out: str, horizon: int) -> None:
    """One tier build of the staged table at ``path``: read, materialize
    the 1m/1h/1d tiers, encode the 1m tier's blocks, gap-fill the 1h
    tier through the noop sink."""
    from rust_timeseries_spark.operators import compress as compress_ops
    from rust_timeseries_spark.operators import gapfill
    from rust_timeseries_spark.plans.tiers import TierStore
    from rust_timeseries_spark.sources import tokens as tokens_src

    tr = ctx.tracer
    raw = gen.with_ts(tokens_src.read_tokens(ctx.spark, path), ctx.seed, horizon)
    store = TierStore(ctx.spark, f"{out}/store")
    store.materialize_full(raw)
    with tr.span("operators.compress.compress_tier_arrow:sink"):
        blocks = compress_ops.compress_tier_arrow(store.read_tier("1m"), "1d")
        blocks.write.parquet(f"{out}/blocks")
    with tr.span("operators.gapfill.locf:sink"):
        noop(gapfill.locf(gapfill.densify(store.read_tier("1h"), "1h"), ["tok_sum"]))


def tier_build(ctx: Ctx) -> Outcome:
    from rust_timeseries_spark.operators import compress as compress_ops
    from rust_timeseries_spark.operators import rollup
    from rust_timeseries_spark.plans.tiers import TierStore

    spark = ctx.spark
    horizon = BUILD_HORIZON_DAYS * gen.DAY

    def stage(rep: int) -> str:
        path = f"{ctx.work}/tokens_{rep}"
        gen.token_table(spark, BUILD_ROWS, ctx.seed, BUILD_MAX_LEN, 2 * ctx.cores).write.parquet(path)
        return path

    stage_walls, path = _timed_setup(stage, SETUP_REPS)
    for r in range(SETUP_REPS - 1):
        shutil.rmtree(f"{ctx.work}/tokens_{r}")
    t = time.perf_counter()
    # JIT, Python workers and the native codec load: the first build of
    # a session runs measurably slower, so an untimed build comes first
    _build(ctx, path, f"{ctx.work}/warm", horizon)
    shutil.rmtree(f"{ctx.work}/warm")
    warm_s = time.perf_counter() - t

    ops = _loop(ctx, 10_000, lambda i: run_op(
        ctx, f"tier_build:build:{i}", "build", lambda: _build(ctx, path, f"{ctx.work}/build_{i}", horizon)))

    # checks, outside the timed section: Σ tok_sum of the 1d tier equals
    # Σ n_tok of the input, and the stored blocks decode to the 1m tier
    raw_sum = spark.read.parquet(path).agg(F.sum("n_tok")).collect()[0][0]
    failed = 0
    for i in range(len(ops)):
        out = f"{ctx.work}/build_{i}"
        store = TierStore(spark, f"{out}/store")
        ok = store.read_tier("1d").agg(F.sum("tok_sum")).collect()[0][0] == raw_sum
        if ok and i == len(ops) - 1:
            t1m = store.read_tier("1m").select("source", "bucket_ts", "tok_sum", "tok_count", "tok_min", "tok_max")
            dec = compress_ops.decompress_blocks(spark.read.parquet(f"{out}/blocks"))
            # exceptAll both ways: empty means equal multisets
            ok = rollup.tier_diff(t1m, dec.select(*t1m.columns)).limit(1).count() == 0
        failed += 0 if ok else 1

    walls = [o.wall for o in ops]
    res = Outcome(
        attempted=len(ops), failed=failed,
        setup_s=median(stage_walls) + warm_s,
        ops=ops,
        work_per_s=Metric(BUILD_ROWS / median(walls), "1/s", len(walls)),
    )
    res.named["tier_build_seq_per_s"] = res.work_per_s
    res.notes.append(f"rows={BUILD_ROWS} horizon_days={BUILD_HORIZON_DAYS} sources=20 builds={len(ops)}")
    res.notes.append("setup: stage_s=" + ",".join(f"{w:.2f}" for w in stage_walls) + f" warm_s={warm_s:.2f}")
    res.notes.append("op walls: " + _walls(ops))
    if ctx.tracer.enabled:
        _build_layers(ctx, res, path, f"{ctx.work}/build_{len(ops) - 1}", horizon, "build")
    return res


def _build_layers(ctx: Ctx, res: Outcome, path: str, last: str, horizon: int, kind: str) -> None:
    """Per-layer metrics of the build path, from the spans of the
    operations of ``kind`` and from probes run after them; ``last`` is
    the output directory of the last build."""
    from rust_timeseries_spark.functions import compression as codec
    from rust_timeseries_spark.operators import compress as compress_ops
    from rust_timeseries_spark.operators import gapfill, rollup
    from rust_timeseries_spark.plans.tiers import TierStore
    from rust_timeseries_spark.sources import tokens as tokens_src

    spark, tr = ctx.spark, ctx.tracer
    store = TierStore(spark, f"{last}/store")
    tokens_df = gen.with_ts(tokens_src.read_tokens(spark, path), ctx.seed, horizon)

    def probe() -> None:
        # lazy operators run inside materialize_full's writes; each is
        # executed alone through the noop sink to time it
        with tr.span("operators.rollup.rollup_raw:sink"):
            noop(rollup.rollup_raw(tokens_df, "1m", ["source"], "ts", "n_tok", epoch=True))
        with tr.span("operators.rollup.fold_up:sink"):
            noop(rollup.fold_up(store.read_tier("1m"), "1h", ["source"], epoch=True))

    res.probes += [run_op(ctx, f"{kind}:probe:{r}", "probe", probe) for r in range(2)]
    dense_rows = gapfill.densify(store.read_tier("1h"), "1h").count()
    report = compress_ops.compression_report(spark.read.parquet(f"{last}/blocks")).collect()[0]
    codec_rates, codec_ok = _codec_rates(store.read_tier("1m"), codec)
    res.failed += 0 if codec_ok else 1
    per_build = _per_op(tr, kind)
    res.layers.update({
        "sources.read_tokens_s": per_build("sources.tokens.read_tokens"),
        "operators.rollup.rollup_raw_s": median([s.dur for s in tr.named("operators.rollup.rollup_raw:sink")]),
        "operators.rollup.fold_up_s": median([s.dur for s in tr.named("operators.rollup.fold_up:sink")]),
        "operators.gapfill.locf_s": per_build("operators.gapfill.locf:sink"),
        "operators.gapfill.dense_rows": float(dense_rows),
        "operators.compress.compress_tier_arrow_s": per_build("operators.compress.compress_tier_arrow:sink"),
        "operators.compress.ratio": float(report["ratio"]),
        "plans.tiers.materialize_full_s": per_build("plans.tiers.TierStore.materialize_full"),
        "plans.tiers.files_written": float(len(_tier_files(f"{last}/store"))),
        **codec_rates,
    })


def _codec_rates(t1m, codec) -> tuple[dict[str, float], bool]:
    """Direct codec calls on the 1m tier's columns: the C kernels and
    the vectorised NumPy encoder over the same per-source series.
    Returns the rates and whether both encoders agree byte for byte and
    decoding restores every value."""
    from rust_timeseries_spark import native

    pdf = t1m.orderBy("source", "bucket_ts").toPandas()
    series = []
    for _, g in pdf.groupby("source", sort=True):
        for c in ("bucket_ts", "tok_sum", "tok_count", "tok_min", "tok_max"):
            series.append(np.ascontiguousarray(g[c].to_numpy(dtype=np.int64)))
    n_values = sum(len(s) for s in series)

    def rate(fn, args) -> float:
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            for a in args:
                fn(a)
            walls.append(time.perf_counter() - t)
        return n_values / median(walls)

    ok = True
    out = {"native.encode_values_per_s": 0.0, "native.decode_values_per_s": 0.0}
    if native.HAVE_NATIVE:
        blobs = [native.encode_dod_int64(s) for s in series]
        out["native.encode_values_per_s"] = rate(native.encode_dod_int64, series)
        out["native.decode_values_per_s"] = rate(native.decode_dod_int64, blobs)
        ok = all(np.array_equal(native.decode_dod_int64(b), s) for b, s in zip(blobs, series))
        ok = ok and all(codec.encode_dod_int64_vec(s) == b for s, b in zip(series, blobs))
    out["functions.compression.vec_encode_values_per_s"] = rate(codec.encode_dod_int64_vec, series)
    return out, ok


def _per_op(tr, kind: str):
    """Median over operations of ``kind`` of the summed duration of
    spans called ``name`` inside each operation."""
    ops = [s for s in tr.spans if s.attrs.get("kind") == kind]

    def f(name: str) -> float:
        return median([sum(s.dur for s in tr.within(o, name)) for o in ops])

    return f


# ---------------------------------------------------------------------------
# tier_increment
# ---------------------------------------------------------------------------

def tier_increment(ctx: Ctx) -> Outcome:
    from rust_timeseries_spark.operators import rollup
    from rust_timeseries_spark.plans.pipeline import RollupPipeline
    from rust_timeseries_spark.plans.tiers import TierStore
    from rust_timeseries_spark.sources import tokens as tokens_src

    spark, tr = ctx.spark, ctx.tracer
    horizon = INC_HORIZON_DAYS * gen.DAY
    arrival, n_calls = gen.arrival_schedule(
        ctx.seed, INC_HORIZON_DAYS, INC_BOOTSTRAP_DAYS, INC_LATE_LAG_DAYS, INC_LATE_SHARE)

    def stage(rep: int) -> str:
        path = f"{ctx.work}/tokens_{rep}"
        (gen.token_table(spark, INC_ROWS, ctx.seed, BUILD_MAX_LEN, 2 * ctx.cores)
         .withColumn("arrival", arrival).write.parquet(path))
        return path

    stage_walls, path = _timed_setup(stage, SETUP_REPS)
    for r in range(SETUP_REPS - 1):
        shutil.rmtree(f"{ctx.work}/tokens_{r}")
    t = time.perf_counter()
    pipe = RollupPipeline(spark, f"{ctx.work}/store")
    raw = gen.with_ts(tokens_src.read_tokens(spark, path), ctx.seed, horizon)
    boot = raw.where(F.col("arrival") == 0)
    pipe.run_increment(boot, boot, "bootstrap")
    # warm-up: call 1 (day 20's first half) runs untimed. The first call
    # after the bootstrap ran 1.5 to 3 s slower than the next ones, and
    # timing it widened the quartile spread of op_p50_s over seeds from
    # 0.11 to 0.32 of its median
    pipe.run_increment(raw.where(F.col("arrival") <= 1), raw.where(F.col("arrival") == 1), "call-1")
    boot_s = time.perf_counter() - t

    new_files: list[int] = []

    def op(i: int) -> Op:
        call = i + 2
        kind = "late" if call % 3 == 0 else "append"
        full_raw = raw.where(F.col("arrival") <= call)
        batch = raw.where(F.col("arrival") == call)
        before = _tier_files(pipe.store.base) if tr.enabled else set()
        o = run_op(ctx, f"tier_increment:{kind}:{call}", kind,
                   lambda: pipe.run_increment(full_raw, batch, f"call-{call}"))
        if tr.enabled:
            t = time.perf_counter()
            new_files.append(len(_tier_files(pipe.store.base) - before))
            tr.cost_s += time.perf_counter() - t
        return o

    ops = _loop(ctx, n_calls - 1, op)
    last_call = len(ops) + 1

    # check: the maintained store equals a one-shot cascade of every row
    # that has arrived (exceptAll both ways: empty means equal multisets)
    arrived = raw.where(F.col("arrival") <= last_call)
    oneshot = TierStore(spark, f"{ctx.work}/unused").cascade(arrived)
    ok = all(rollup.tier_diff(pipe.store.read_tier(t), oneshot[t]).limit(1).count() == 0
             for t in ("1m", "1h", "1d"))

    walls = {k: [o.wall for o in ops if o.kind == k] for k in ("append", "late")}
    n_rows = raw.where((F.col("arrival") >= 2) & (F.col("arrival") <= last_call)).count()
    res = Outcome(
        attempted=len(ops), failed=0 if ok else 1,
        setup_s=median(stage_walls) + boot_s,
        ops=ops,
        work_per_s=Metric(n_rows / sum(o.wall for o in ops), "1/s", len(ops)),
    )
    res.named["increment_append_p50_s"] = Metric(median(walls["append"]), "s", len(walls["append"]))
    res.named["increment_late_p50_s"] = Metric(median(walls["late"]), "s", len(walls["late"]))
    res.named["increment_rows_per_s"] = res.work_per_s
    res.notes.append(f"rows={INC_ROWS} bootstrap_days={INC_BOOTSTRAP_DAYS} "
                     f"calls={len(ops)} after 1 warm-up, of {n_calls}")
    res.notes.append("setup: stage_s=" + ",".join(f"{w:.2f}" for w in stage_walls)
                     + f" bootstrap+warm-up_s={boot_s:.2f}")
    res.notes.append("op walls: " + _walls(ops))

    if tr.enabled:
        incs = [s for s in tr.spans if s.name == "plans.pipeline.RollupPipeline.run_increment"
                and s.parent is not None and tr.spans[s.parent].attrs.get("kind") in ("append", "late")]
        n_cont = sum(len(tr.within(s, "plans.pipeline.RollupPipeline.ewma_continue")) for s in incs)
        n_full = sum(len(tr.within(s, "plans.pipeline.RollupPipeline.ewma_full")) for s in incs)

        def per_call(name: str) -> float:
            return median([sum(c.dur for c in tr.within(s, name)) for s in incs])

        res.layers.update({
            "plans.tiers.merge_increment_s": per_call("plans.tiers.TierStore.merge_increment"),
            "plans.tiers.files_per_increment": median([float(v) for v in new_files]),
            "plans.checkpoint.record_lineage_s": per_call("plans.checkpoint.MetaStore.record_lineage"),
            "plans.checkpoint.watermarks_s": per_call("plans.checkpoint.MetaStore.watermarks"),
            "plans.checkpoint.save_watermarks_s": per_call("plans.checkpoint.MetaStore.save_watermarks"),
            "plans.checkpoint.record_metrics_s": per_call("plans.checkpoint.MetaStore.record_metrics"),
            "plans.pipeline.run_increment_self_s": median([tr.self_time(s) for s in incs]),
            "plans.pipeline.ewma_incremental_ratio": n_cont / max(1, n_cont + n_full),
        })
        # the build path's layers, measured on this workload's table so
        # that one traced run covers every tier layer
        res.probes += [run_op(ctx, f"tier_increment:build_probe:{r}", "build_probe",
                              lambda: _build(ctx, path, f"{ctx.work}/probe_build_{r}", horizon))
                       for r in range(2)]
        _build_layers(ctx, res, path, f"{ctx.work}/probe_build_1", horizon, "build_probe")
    return res


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------

def query_family(entrymod, fn) -> str:
    helpers = {n: f for n, f in vars(entrymod).items()
               if inspect.isfunction(f) and f.__module__ == entrymod.__name__}
    src = inspect.getsource(fn)
    called = set(re.findall(r"\b(_[a-z0-9_]+)\(", src))
    full = src + "".join(inspect.getsource(helpers[c]) for c in sorted(called) if c in helpers)
    for fam, pat in FAMILY_RULES:
        if re.search(pat, full):
            return fam
    return "relational"


def suite_queries(entrymod) -> list[tuple[str, str]]:
    """The fixed subset: the first ceil(n/SUITE_SHARE) queries of each
    family, in registry order. Returns ``(name, family)`` pairs."""
    by_fam: dict[str, list[str]] = {}
    fam_of = {}
    for name, fn in entrymod.queries().items():
        fam_of[name] = query_family(entrymod, fn)
        by_fam.setdefault(fam_of[name], []).append(name)
    keep = {n for names in by_fam.values() for n in names[: -(-len(names) // SUITE_SHARE)]}
    return [(n, fam_of[n]) for n in entrymod.queries() if n in keep]


def query_suite(ctx: Ctx) -> Outcome:
    import __spark_entry__ as entrymod

    spark, tr = ctx.spark, ctx.tracer
    qs = entrymod.queries()
    chosen = suite_queries(entrymod)
    fam = dict(chosen)
    # the order is fixed, not drawn from the seed: a query's first run in
    # a session pays for code generation and plan shapes it shares with
    # queries before it, and a shuffled order moves that cost between
    # queries from run to run (over five seeds the quartile spread of
    # op_p50_s was 0.40 of its median shuffled, 0.28 fixed, where one run
    # on a slow stretch of the shared box made most of it)
    order = [n for n, _ in chosen]

    t = time.perf_counter()
    # warm-up: one JVM-only and one Arrow/pandas query, neither timed
    noop(qs["rollup_1d_fold"](spark, SUITE_DATA))
    noop(qs["image_features"](spark, SUITE_DATA))
    warm_s = time.perf_counter() - t

    # the timed call collects the result as Arrow: that is what a caller
    # receives, and it lets the check below reuse it instead of a rerun
    results: list[tuple[str, object]] = []

    def query(name: str) -> None:
        results.append((name, qs[name](spark, SUITE_DATA).toArrow()))

    # whole passes only: a pass is the unit that covers every family
    ops: list[Op] = []
    t_end = time.perf_counter() + ctx.seconds
    while not ops or time.perf_counter() < t_end:
        n_pass = len(ops) // len(order)
        for name in order:
            ops.append(run_op(ctx, f"query_suite:{name}:{n_pass}", fam[name], lambda: query(name)))
    n_pass = len(ops) // len(order)
    t = time.perf_counter()
    bad = _check_suite(entrymod, results, os.path.join(os.path.dirname(ctx.work), "oracles"))
    check_s = time.perf_counter() - t

    walls = [o.wall for o in ops]
    pass_totals = [sum(walls[p * len(order):(p + 1) * len(order)]) for p in range(n_pass)]
    tail = tail_percentile(len(walls))
    res = Outcome(
        attempted=len(ops), failed=len(bad),
        setup_s=warm_s,
        ops=ops,
        work_per_s=Metric(len(order) / median(pass_totals), "1/s", n_pass),
    )
    res.named["suite_total_s"] = Metric(median(pass_totals), "s", n_pass)
    res.named["query_p50_s"] = Metric(median(walls), "s", len(walls))
    if tail is not None and tail > 50:
        res.named[f"query_p{tail}_s"] = Metric(percentile(walls, tail), "s", len(walls))
    res.notes.append(f"queries={len(order)}/{len(qs)} passes={n_pass} data=sf0.01")
    res.notes.append(f"setup: warm_s={warm_s:.2f}; oracle check {check_s:.2f} s")
    res.notes.append("query walls: " + ",".join(f"{o.group.split(':')[1]}={o.wall:.2f}" for o in ops))
    for i in sorted(bad):
        res.notes.append(f"check failed: {results[i][0]}")

    if tr.enabled:
        for f in FAMILIES:
            res.layers[f"suite.{f}_s"] = sum(o.wall for o in ops if o.kind == f) / n_pass
    return res


def _oracle_tables(entrymod, names, cache_dir: str) -> dict[str, object]:
    """Oracle results as Arrow tables. They depend only on the shipped
    data and the oracle SQL, so each is computed once per checkout and
    then read from ``cache_dir``, keyed by both."""
    import hashlib

    import duckdb
    import pyarrow as pa

    from tools import check_oracle

    oracles = dict(entrymod.oracle_sql())
    try:
        import oracle_frozen

        oracles.update({q: sql for q, sql in oracle_frozen.SF_SQL.get("0.01", {}).items()
                        if q in entrymod.FROZEN_ORACLE_QUERIES})
    except ImportError:
        pass
    data_hash = hashlib.sha256()
    for t in sorted(os.listdir(SUITE_DATA)):
        with open(os.path.join(SUITE_DATA, t), "rb") as f:
            data_hash.update(t.encode() + f.read())
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            if name not in oracles:
                continue
            key = hashlib.sha256(data_hash.digest() + oracles[name].encode()).hexdigest()[:24]
            path = os.path.join(cache_dir, f"{key}.arrow")
            if os.path.exists(path):
                with pa.memory_map(path) as src:
                    out[name] = pa.ipc.open_file(src).read_all()
                continue
            if con is None:
                con = duckdb.connect()
                for t in check_oracle.TABLES:
                    p = os.path.join(SUITE_DATA, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            tbl = con.execute(oracles[name]).arrow()
            if not isinstance(tbl, pa.Table):
                tbl = tbl.read_all()
            tmp = f"{path}.{os.getpid()}"
            with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, tbl.schema) as w:
                w.write_table(tbl)
            os.replace(tmp, path)
            out[name] = tbl
    finally:
        if con is not None:
            con.close()
    return out


def _check_suite(entrymod, results: list[tuple[str, object]], cache_dir: str) -> set[int]:
    """Indexes of the results that differ from their oracle, compared
    with tools/check_oracle.py's normalisation and Arrow-type check."""
    from tools import check_oracle

    expected = _oracle_tables(entrymod, sorted({n for n, _ in results}), cache_dir)
    bad = set()
    for i, (name, got_tbl) in enumerate(results):
        exp_tbl = expected.get(name)
        if exp_tbl is None or check_oracle.schema_mismatches(got_tbl.schema, exp_tbl.schema):
            bad.add(i)
            continue
        got = check_oracle.normalize(got_tbl.to_pandas())
        exp = check_oracle.normalize(exp_tbl.to_pandas())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.add(i)
            continue
        for c in got.columns:
            a, b = got[c], exp[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                eq = ((a == b) | (a.isna() & b.isna())).all()
            else:
                eq = (a.astype(str).fillna("¤") == b.astype(str).fillna("¤")).all()
            if not eq:
                bad.add(i)
                break
    return bad


WORKLOADS = {
    "tier_build": tier_build,
    "tier_increment": tier_increment,
    "query_suite": query_suite,
}
