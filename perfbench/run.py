"""Benchmark of eventstream_benchmark_spark: one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload generate --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/workloads.py): generate, analytics, stream. A run
sets up several times and reports the median as ``setup_s``, checks every
operation's output once, then times whole passes over the operations whose
output passed for ``--seconds`` seconds. It prints one line per check and
per metric, and as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. A traced run times half of ``--seconds`` untraced, half with Spark's
event log on, and one more untraced pass, and prints the per-layer numbers
grouped by layer and the tracing overhead of each end-to-end metric.

Everything the run writes goes under ``.bench_scratch/`` in the repository
root, which each run empties first.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

SETUP_REPS = 3
# well below the 15 GB of the 4-core box the bench was sized on. The heap is
# committed and touched at this size from the start, so the JVM's resident
# memory varies with its off-heap use, not with when the heap happened to grow.
DRIVER_MEMORY = "2g"
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "tasks.run_s": "s",
    "tasks.cpu_s": "s",
    "io.input_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.run_s": "s",
    "trace.overhead_pass_s": "s",
    "trace.overhead_op_geomean_s": "s",
}


def configure_environment(scratch: Path) -> None:
    """Pin the session and keep every file the run writes inside ``scratch``.
    Must run before pyspark is imported."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        PYSPARK_SUBMIT_ARGS=shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={scratch / 'warehouse'}",
            "--conf", f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    )


def environment_line() -> str:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return (f"env nproc={os.environ['SPARK_GRAFT_CPUS']} spark={pyspark.__version__} numpy={numpy.__version__} "
            f"pyarrow={pyarrow.__version__} pandas={pandas.__version__} "
            f"python={sys.version.split()[0]} driver_memory={DRIVER_MEMORY}")


def emit(log, name: str, value: float, unit: str) -> None:
    log(f"metric {name} {value:.6g} {unit}")


def run(args, scratch: Path) -> int:
    from eventstream_benchmark_spark.session import get_spark
    from perfbench import harness as H
    from perfbench import tracing as T
    from perfbench.workloads import WORKLOADS, load_digests

    def log(line: str) -> None:
        print(line, flush=True)

    log(environment_line())
    workload = WORKLOADS[args.workload](scratch, args.seed, load_digests())

    # set-up: start the session once (the JVM launch), then repeat the set-up
    # unit -- restart the SparkContext in that JVM and build the seed's
    # inputs afresh -- and report the median repetition
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start = time.perf_counter() - t
    setup = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        H.isolate(spark)
        spark.stop()
        spark = get_spark("perfbench")
        workload.prepare(spark, rep)
        setup.append(time.perf_counter() - t)

    tally = H.Tally()
    t = time.perf_counter()
    good = H.check_pass(spark, workload.ops(), tally, T.Tracer(), log)
    warmup_s = time.perf_counter() - t
    if good:
        if args.trace:
            H.timed_passes(spark, good, args.seconds / 2, tally, T.Tracer())
        else:
            H.timed_passes(spark, good, args.seconds, tally, T.Tracer(), workload.min_passes)
    rss_by_process = H.peak_rss_by_process()
    rss = sum(rss_by_process.values())
    e2e = H.end_to_end(tally)
    e2e_all = {"setup_s": statistics.median(setup), **e2e, "peak_rss_mb": rss}
    layer: dict[str, tuple[float, str]] = {}
    if args.trace and good:
        layer, trace_tally = traced(args, scratch, spark, workload, good, e2e_all, session_start, log)
        spark = None
        tally.absorb(trace_tally)
    if spark is not None:
        H.isolate(spark)
        spark.stop()
    H.end_processes()

    op_s = {n: statistics.median(s) for n, s in tally.samples.items() if n not in tally.problems}
    log(f"session start {session_start:.3f} s; setup reps {' '.join(f'{x:.3f}' for x in setup)} s; "
        f"warm-up and check pass {warmup_s:.3f} s; "
        f"timed passes {len(tally.pass_s)}")
    for name, value in e2e_all.items():
        emit(log, name, value, END_TO_END_UNITS[name])
    log("peak rss by process " + " ".join(f"{n}={v:.0f}MB" for n, v in sorted(rss_by_process.items())))
    emit(log, "error_rate", tally.failed / max(1, tally.attempted), "ratio")
    if e2e:
        for name, value, unit in workload.headline(op_s, e2e):
            emit(log, name, value, unit)
    for op in workload.ops():
        if op.name in op_s:
            log(f"op {op.layer}.{op.name} median {op_s[op.name]:.4f} s over {len(tally.samples[op.name])} passes")
        else:
            log(f"op {op.layer}.{op.name} no number: {'; '.join(tally.problems.get(op.name, ['not run']))}")

    correct = tally.failed == 0 and bool(e2e)
    if args.trace:
        wanted = {n: layer[n] for n in PER_LAYER_UNITS if n in layer}
    else:
        wanted = {n: (v, END_TO_END_UNITS[n]) for n, v in e2e_all.items()}
    metrics = {n: {"value": v, "unit": u} for n, (v, u) in wanted.items()}
    correct = correct and len(metrics) == len(PER_LAYER_UNITS if args.trace else END_TO_END_UNITS)
    log(f"result {args.workload} seed {args.seed}: {'PASS' if correct else 'FAIL'} "
        f"({tally.failed} of {tally.attempted} operations failed)")
    print(json.dumps({"correct": correct, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}), flush=True)
    return 0


def restart(spark, name: str, log_dir: Path | None = None):
    """Start a fresh SparkContext in the running JVM, writing an event log to
    ``log_dir`` when given, and start its Python worker daemon outside any
    timed span."""
    from pyspark import SparkContext

    from eventstream_benchmark_spark.session import get_spark
    from perfbench import harness as H
    from perfbench import tracing as T

    H.isolate(spark)
    spark.stop()
    if log_dir is not None:
        T.enable_event_log(SparkContext, str(log_dir))
    spark = get_spark(name)
    if log_dir is not None:
        T.disable_event_log(SparkContext)
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    return spark


def traced(args, scratch, spark, workload, good, e2e_all, session_start, log):
    """Time the same passes again with the event log on and every call
    tagged, then untraced once more, and derive the per-layer numbers. The
    overhead compares the traced passes with the mean of the untraced ones
    before and after them, which cancels a warm-up trend across the three."""
    from perfbench import harness as H
    from perfbench import tracing as T

    log_dir = scratch / "eventlog"
    log_dir.mkdir()
    spark = restart(spark, "perfbench-traced", log_dir)
    listener = T.streaming_listener()
    spark.streams.addListener(listener)
    rss_reset = H.reset_peak_rss()
    tally = H.Tally()
    tracer = T.Tracer(spark)
    H.timed_passes(spark, good, args.seconds / 2, tally, tracer)
    rss = H.peak_rss_mb()
    e2e = H.end_to_end(tally)
    time.sleep(0.5)  # let the listener bus deliver the last progress events
    extras = workload.trace_extras()
    leaked, persisted = H.isolate(spark)

    spark = restart(spark, "perfbench")  # stopping the traced context closes its event log
    after = H.Tally()
    H.timed_passes(spark, good, args.seconds / 2, after, T.Tracer())
    H.isolate(spark)
    spark.stop()
    tally.absorb(after)
    untraced = {n: (e2e_all[n] + v) / 2 for n, v in H.end_to_end(after).items() if n in e2e_all}
    untraced["peak_rss_mb"] = e2e_all["peak_rss_mb"]
    traced_e2e = {**e2e, "peak_rss_mb": rss}
    (scratch / "trace").mkdir()
    tracer.write(str(scratch / "trace" / "spans.jsonl"))

    n_pass = max(1, len(tally.pass_s))
    totals = T.span_task_totals(str(log_dir), tracer.spans)
    layer: dict[str, tuple[float, str]] = {"session.start_s": (session_start, "s")}
    for name, unit, _ in T.TASK_METRICS:
        layer[name] = (sum(t.get(name, 0.0) for t in totals.values()) / n_pass, unit)
    for name in ("pass_s", "op_geomean_s"):
        if name in e2e and name in untraced:
            layer[f"trace.overhead_{name}"] = (e2e[name] - untraced[name], "s")

    log("-- traced run: per-layer numbers (per pass unless noted) --")
    for name, unit in END_TO_END_UNITS.items():
        if name == "setup_s":
            log("trace overhead setup_s n/a: set-up always runs untraced")
        elif name == "peak_rss_mb" and not rss_reset:
            log("trace overhead peak_rss_mb n/a: the high-water mark could not be reset")
        elif name in traced_e2e and name in untraced:
            diff = traced_e2e[name] - untraced[name]
            log(f"trace overhead {name} {diff:+.6g} {unit} ({100 * diff / untraced[name]:+.1f}%)")

    by_layer: dict[str, list[tuple[str, float, str]]] = {"session": [("session.start_s", session_start, "s")]}
    for op in good:
        secs = [s.seconds for s in tracer.spans if s.name == op.name]
        if secs:
            by_layer.setdefault(op.layer, []).append((f"{op.layer}.{op.name}_s", statistics.median(secs), "s"))
    for name, value, unit in extras:
        by_layer.setdefault(name.split(".")[0], []).append((name, value, unit))
    by_layer.setdefault("operators", []).append(("_cache.persisted_rdds_after_release", persisted, "count"))
    by_layer.setdefault("streaming", []).append(("streaming.memory_tables_leaked", leaked, "count"))
    progress = listener.progress
    if progress:
        def total(key):
            return sum(p["duration_ms"].get(key, 0) for p in progress) / n_pass
        by_layer["streaming"] += [
            ("streaming.batches", len(progress) / n_pass, "count"),
            ("streaming.add_batch_ms", total("addBatch"), "ms"),
            ("streaming.query_planning_ms", total("queryPlanning"), "ms"),
            ("streaming.wal_commit_ms", total("walCommit"), "ms"),
            ("streaming.state_rows_total", sum(p["state_rows"] for p in progress) / n_pass, "count"),
            ("streaming.state_memory_bytes", sum(p["state_bytes"] for p in progress) / n_pass, "bytes"),
        ]
    for layer_name in ("session", "generator", "export", "io", "operators", "streaming"):
        if layer_name in by_layer:
            log(f"layer {layer_name}")
            for name, value, unit in by_layer[layer_name]:
                log(f"  {name} {value:.6g} {unit}")
    log("layer spark (event log, summed over each pass's tasks)")
    for name, unit, _ in T.TASK_METRICS:
        log(f"  {name} {layer[name][0]:.6g} {unit}")
    for i, span in enumerate(tracer.spans):
        t = totals.get(i, {})
        log(f"  span {span.parent} {span.layer}.{span.name} {span.seconds:.4f} s: "
            + " ".join(f"{k}={t.get(k, 0):.4g}" for k, _, _ in T.TASK_METRICS))
    span_sum = sum(s.seconds for s in tracer.spans) / n_pass
    task_s = layer["tasks.run_s"][0]
    log(f"  spans cover {span_sum:.4f} s per pass; executor task time {task_s:.4f} s per pass")
    return layer, tally


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description="eventstream_benchmark_spark benchmark")
    parser.add_argument("--workload", required=True, choices=("generate", "analytics", "stream"))
    parser.add_argument("--seed", type=int, default=2025)
    parser.add_argument("--seconds", type=float, default=8)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / "eventstream_benchmark_spark" / "__init__.py").is_file():
        print(f"perfbench: no eventstream_benchmark_spark package in {ROOT}", file=sys.stderr)
        return 2
    scratch = ROOT / ".bench_scratch"
    shutil.rmtree(scratch, ignore_errors=True)
    configure_environment(scratch)
    from perfbench.harness import adopt_orphans, end_processes

    adopt_orphans()
    try:
        return run(args, scratch)
    finally:
        end_processes()  # also when the run raised

if __name__ == "__main__":
    sys.exit(main())
