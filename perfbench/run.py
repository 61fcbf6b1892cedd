"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pipeline_day --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, sets the program up five
times (median reported as ``setup_s``), measures for about ``--seconds``,
checks every output after the timed regions, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones from
the harness's spans. Scratch files live in ``.perfbench/work/<run>/`` and are
removed at exit; ``.perfbench/runs.jsonl`` keeps one record per run (metrics,
contention markers, trust verdict, check failures) and traced runs leave
their spans in ``.perfbench/spans/<run>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUPS = 5
JVM_HEAP = "2g"


def _configure_env(root: str, work: str) -> None:
    """Point every file Spark, the JVM and Python workers write at the run's
    scratch dir, keep Spark off the console, and let workers import the
    program from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        f"--conf spark.local.dir={tmp} pyspark-shell"
    )
    time.tzset()


def _set_up(run, workload, gen: str, k: int) -> float:
    """One set-up: (re)start the session, import every query module afresh
    through load_all(), stage the inputs, run the warm-up query."""
    from boxoffice_spark import registry
    from boxoffice_spark.session import get_spark
    from boxoffice_spark.sources.rest_source import register_sources
    from workloads import stage_warehouse

    if run.spark is not None:  # tearing down the previous session is not set-up
        run.tracer.sc = None
        run.spark.stop()
    t0 = time.perf_counter()
    with run.span("session.start"):
        run.spark = get_spark(f"perfbench_{workload.name}")
        run.spark.sparkContext.setLogLevel("ERROR")
        register_sources(run.spark)
    run.tracer.sc = run.spark.sparkContext
    with run.span("registry.load_all"):
        registry.QUERIES.clear()
        for mod in [m for m in sys.modules if m.startswith("boxoffice_spark.queries.")]:
            del sys.modules[mod]
        run.specs = registry.load_all()
    run.wh = os.path.join(run.work, f"warehouse{k}")
    stage_warehouse(gen, run.wh, workload.stage_as_dirs)
    run.spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up, as bench.py
    return time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _e2e(run, setups: list[float], peak_bytes: int) -> dict[str, float]:
    from harness import median

    return {
        "setup_s": median(setups),
        "peak_pss_mb": peak_bytes / 2**20,
        "op_p50_ms": median(run.op_ms),
        "cycle_s": median(run.cycles_s[1:]),
        "cold_cycle_s": run.cycles_s[0] if run.cycles_s else 0.0,
    }


def _per_layer(run, e2e: dict, setups_first: float, measure_s: float, trust: dict) -> dict[str, float]:
    from harness import LAYERS, median
    from metrics import PER_LAYER

    tr = run.tracer
    out = {name: 0.0 for name, *_ in PER_LAYER}
    for name in out:  # "<layer>.<call>_s" is the median "<layer>.<call>" span
        if name.endswith("_s") and name.count(".") == 1:
            out[name] = median(tr.durations(name[:-2]))
    out["session.first_start_s"] = setups_first
    out["sources.tasks"] = tr.counts("sources.page_scan")[1]
    self_times, counts = tr.self_times(), tr.layer_counts()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = self_times[layer]
        out[f"jobs.{layer}"], out[f"tasks.{layer}"] = counts[layer]
    out.update({k: v for k, v in run.values.items() if k in out})
    out["trace.spans"] = len(tr.spans)
    out["trace.bookkeeping_s"] = tr.bookkeeping_s
    out["trace.overhead_pct"] = 100 * tr.bookkeeping_s / measure_s
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]
    out["trace.cycle_s"] = e2e["cycle_s"]
    out["contention.steal_jiffies_per_s"] = trust["steal_jiffies_per_s"] or 0.0
    out["contention.trusted"] = 1.0 if trust["trusted"] else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="warehouse scale factor instead of the workload's own (smoke tests)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "boxoffice_spark", "__init__.py")):
        print("perfbench: boxoffice_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    import workloads
    from harness import MemorySampler, Tracer, contention, trust
    from metrics import END_TO_END, PER_LAYER

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", run_id)
    os.makedirs(work)
    _configure_env(root, work)
    sys.path.insert(0, root)

    workload = workloads.WORKLOADS[args.workload]()
    if args.sf is not None:
        workload.sf = args.sf
    run = workloads.Run(args.seed, args.seconds, work, Tracer(bool(args.trace), args.workload, run_id))
    before = contention()
    t_run = time.perf_counter()
    try:
        gen = workload.generate(run)
        with MemorySampler() as mem:
            setups = [_set_up(run, workload, gen, k) for k in range(SETUPS)]
            run.spark.streams.addListener(run.progress.listener())
            with run.span("harness.measure"):
                t_measure = time.perf_counter()
                workload.measure(run)
                measure_s = time.perf_counter() - t_measure
        after = contention()
        t_check = time.perf_counter()
        workload.check(run)
        check_s = time.perf_counter() - t_check
        marks = trust(before, after, time.perf_counter() - t_run)
        e2e = _e2e(run, setups, mem.peak_bytes)
        if args.trace:
            metrics = _per_layer(run, e2e, setups[0], measure_s, marks)
            run.tracer.write(os.path.join(state, "spans", f"{run_id}.jsonl"))
            units = {n: u for n, u, *_ in PER_LAYER}
        else:
            metrics = e2e
            units = {n: u for n, u, *_ in END_TO_END}
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.perf_counter() - t_run, "setups_s": setups,
        "measure_s": measure_s, "check_s": check_s,
        "samples": {"ops": len(run.op_ms), "cycles": len(run.cycles_s)},
        "op_ms": run.op_ms, "cycles_s": run.cycles_s,
        "pss_mb_per_s": [round(b / 2**20) for b in mem.samples[::4]],
        "contention": marks, "errors": run.errors, "metrics": metrics,
    }
    with open(os.path.join(state, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(f"perfbench: {json.dumps({k: record[k] for k in ('run', 'wall_s', 'measure_s', 'check_s', 'samples', 'contention', 'errors')})}",
          file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
