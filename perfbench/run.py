"""Benchmark for rust_timeseries_spark.

Runs one workload against the package's public API on ``local[N]``
(N = cores available to this process, shuffle partitions = N), as one
closed-loop caller, and prints every metric by name with its unit and
sample count. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics listed in
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, taken
from spans recorded by wrappers installed at run time and from Spark's
event log, attributed through the job group set around each operation.

Usage, from the repository root:

    python3 perfbench/run.py --workload tier_increment --seed 1 --seconds 8 --trace 0

Workloads: tier_build, tier_increment, query_suite (see workloads.py).
Everything the run writes stays under ``.perfbench_work/`` in the
current directory; the event log and spans of the latest traced run of
each workload are kept in ``.perfbench_work/traces/<workload>/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(root: str, work: str) -> None:
    """Keep every file the run, Spark and the Python workers write under
    ``work``, and let the workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    native = os.path.join(root, ".perfbench_work", "native")
    os.makedirs(native, mode=0o700, exist_ok=True)
    os.environ["RTS_NATIVE_CACHE"] = native
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [root]


def _start_spark(work: str, cores: int, trace: bool):
    from rust_timeseries_spark.session import build_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "4g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{work}/eventlog",
        })
    spark = build_spark(app_name="perfbench", master=f"local[{cores}]",
                        shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def trace_targets() -> list[tuple[object, str, str]]:
    """Public functions wrapped in the traced run, named by module path
    below the package."""
    from rust_timeseries_spark.operators import compress, gapfill, recursion, rollup
    from rust_timeseries_spark.plans import checkpoint, pipeline, tiers
    from rust_timeseries_spark.sources import tokens

    targets = [
        (tokens, "read_tokens"),
        (rollup, "rollup_raw"), (rollup, "fold_up"),
        (gapfill, "densify"), (gapfill, "locf"),
        (compress, "compress_tier_arrow"), (compress, "decompress_blocks"),
        (recursion, "ewma"),
        (tiers.TierStore, "materialize_full"), (tiers.TierStore, "merge_increment"),
        (tiers.TierStore, "cascade"),
        (checkpoint.MetaStore, "record_lineage"), (checkpoint.MetaStore, "watermarks"),
        (checkpoint.MetaStore, "save_watermarks"), (checkpoint.MetaStore, "record_metrics"),
        (pipeline.RollupPipeline, "run_increment"), (pipeline.RollupPipeline, "ewma_full"),
        (pipeline.RollupPipeline, "ewma_continue"),
    ]
    out = []
    for owner, attr in targets:
        mod = owner.__module__ if isinstance(owner, type) else owner.__name__
        prefix = mod.split(".", 1)[1]
        name = f"{prefix}.{owner.__name__}.{attr}" if isinstance(owner, type) else f"{prefix}.{attr}"
        out.append((owner, attr, name))
    return out


def event_log_layers(log_path: str, outcome) -> tuple[dict[str, float], list[str]]:
    """``spark.*`` per-layer metrics over the workload's operations and
    the per-job-group table lines."""
    import eventlog
    from stats import median

    every = outcome.ops + outcome.probes
    table = eventlog.summarize(log_path, [(o.start * 1e3, o.end * 1e3, o.group) for o in every])
    empty = {**{c: 0.0 for c in eventlog.COUNTERS}, "stage_intervals": []}

    def row(o):
        return table.get(o.group, empty)

    def gap(o) -> float:
        return o.end - o.start - eventlog.union_seconds(row(o)["stage_intervals"], o.start * 1e3, o.end * 1e3)

    layers = {f"spark.{c}": sum(row(o)[c] for o in outcome.ops) for c in eventlog.COUNTERS}
    layers["spark.driver_gap_s"] = median([gap(o) for o in outcome.ops])
    layers["plans.pipeline.jobs_per_increment"] = median(
        [row(o)["jobs"] for o in outcome.ops if o.kind in ("append", "late")])
    layers["operators.recursion.ewma_python_s"] = median(
        [row(o)["python_udf_s"] for o in outcome.ops if o.kind == "late"])
    lines = ["group\t" + "\t".join(eventlog.COUNTERS) + "\twall_s\tdriver_gap_s"]
    for o in every:
        lines.append(f"{o.group}\t" + "\t".join(f"{row(o)[c]:.6g}" for c in eventlog.COUNTERS)
                     + f"\t{o.end - o.start:.4f}\t{gap(o):.4f}")
    for g in sorted(set(table) - {o.group for o in every}):
        lines.append(f"{g}\t" + "\t".join(f"{table[g][c]:.6g}" for c in eventlog.COUNTERS) + "\t-\t-")
    return layers, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "rust_timeseries_spark"))):
        print("perfbench: the rust_timeseries_spark package is not in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = _cores()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(root, work)
    from spans import Tracer, jvm_pid, vmhwm_mb
    from stats import median

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores, bool(args.trace))
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.install(trace_targets())
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores, tracer)
        outcome = workloads.WORKLOADS[args.workload](ctx)
        tracer.uninstall()
        rss_mb = vmhwm_mb(jvm_pid(spark))
        log_dir = f"{work}/eventlog"
        _stop_spark(spark)
        spark = None

        setup_s = start_s + outcome.setup_s
        walls = [o.wall for o in outcome.ops]
        n = len(walls)
        # the geometric mean over operations, not their median, carries
        # the per-operation time: on query_suite the median of 15
        # different queries jumps between neighbouring queries (quartile
        # spread 0.155 of its median over seven seeds, geomean 0.035)
        e2e = {
            "op_geomean_s": workloads.Metric(math.exp(sum(math.log(w) for w in walls) / n), "s", n),
            "op_mean_s": workloads.Metric(sum(walls) / n, "s", n),
            "setup_s": workloads.Metric(setup_s, "s"),
        }
        outcome.named.update({
            "op_p50_s": workloads.Metric(median(walls), "s", n),
            "op_cpu_p50_s": workloads.Metric(median([o.cpu for o in outcome.ops]), "s", n),
            "work_per_s": outcome.work_per_s,
            # its run-to-run spread is too wide for a regression bound:
            # the JSON carries it as a per-layer metric of the traced run
            "jvm_peak_rss_mb": workloads.Metric(rss_mb, "MB"),
        })
        err = workloads.Metric(outcome.failed / outcome.attempted, "ratio", outcome.attempted)
        print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} cores={cores} loop=closed callers=1")
        for note in outcome.notes:
            print(f"  {note}")
        print(f"{'metric':34s} {'value':>14s} {'unit':>6s} {'n':>5s}")
        for name, m in {**e2e, **outcome.named, "error_ratio": err}.items():
            print(f"{name:34s} {m.value:14.6g} {m.unit:>6s} {m.n:5d}")

        if args.trace:
            import eventlog

            layers = {"session.start_s": start_s, "session.jvm_peak_rss_mb": rss_mb}
            layers.update(outcome.layers)
            logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
            spark_layers, table = event_log_layers(logs[0], outcome)
            layers.update(spark_layers)
            layers["session.storage_held_mb_max"] = max(
                (s["storage_held_mb"] for s in tracer.samples), default=0.0)
            layers["trace.overhead_s"] = tracer.cost_s
            keep = os.path.join(root, ".perfbench_work", "traces", args.workload)
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            tracer.dump(os.path.join(keep, "spans.jsonl"))
            with open(os.path.join(keep, "eventlog.json"), "w", encoding="utf-8") as f:
                for part in eventlog.log_files(logs[0]):
                    with open(part, encoding="utf-8") as src:
                        shutil.copyfileobj(src, f)
            with open(os.path.join(keep, "groups.tsv"), "w", encoding="utf-8") as f:
                f.write("\n".join(table) + "\n")
            print("per job group (event log):")
            for line in table:
                print("  " + line)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
            for n in units:
                print(f"{n:44s} {metrics[n]['value']:14.6g} {units[n]}")
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]].value), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"correct": outcome.failed == 0, "attempted": outcome.attempted,
                          "failed": outcome.failed, "metrics": metrics}))
        return 0
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
