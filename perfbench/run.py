"""Benchmark of the event-based table-management engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload commit_sync --seed 1 --seconds 5 --trace 0

Workloads: ``commit_sync``, ``ingest_read_sync``, ``ingest_read_async``,
``analytics`` (see workloads.py and LAYERS.md).  The last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics, taken from a
run whose layer calls are wrapped in spans (written to
``.bench_work/traces/``).  The line before it is the full report: every
end-to-end metric of the workload with its unit and sample count, the
failure base, and the first failures.

Set-up runs three times (the first starts the JVM, the others restart
the Spark session in it and rebuild the workload's inputs); ``setup_s``
is the median CPU time of the three, so in practice a warm session
restart plus the inputs, and ``setup_wall_s`` the median wall time.
The cold JVM start is the per-layer ``session.cold_start_s``.
Everything the run writes stays under ``.bench_work/`` in the
repository root and the run's own directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3
DRIVER_MEMORY = "2g"  # a fixed heap cap keeps peak RSS comparable run to run


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    """Name -> unit of BENCHMARK.json's end-to-end and per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _confine(run_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        # compiler threads that never exit keep their CPU time countable
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ctx:
    """What a workload sees: the session, seed, budget and tracer."""

    def __init__(self, seed: int, seconds: float, tracer, work_dir: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work_dir = work_dir
        self.spark = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        end_to_end, per_layer = _declared()
        import iceberg_aws_event_based_table_management_spark  # noqa: F401
        import bench  # noqa: F401
    except (ImportError, OSError) as e:
        print(f"perfbench: the engine or BENCHMARK.json is missing from {ROOT}: {e}", file=sys.stderr)
        return 2
    saved = list(sys.path)
    from tools import check  # noqa: F401  (it prepends its own path on import)

    sys.path[:] = saved

    import layers
    import workloads
    from procstat import tree_cpu_s, vm_hwm_mb
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(WORK_ROOT, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = tempfile.mkdtemp(prefix=f"{run_id}-", dir=WORK_ROOT)
    _confine(run_dir)
    from iceberg_aws_event_based_table_management_spark.session import get_spark

    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args.seed, args.seconds, tracer, run_dir)
    workload = workloads.WORKLOADS[args.workload]()
    res = workloads.Result()
    try:
        setups, setup_cpu, starts = [], [], []
        for _ in range(SETUP_REPS):
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            if ctx.spark is not None:
                ctx.spark.stop()
            ctx.spark = get_spark("perfbench")
            ctx.spark.sparkContext.setLogLevel("OFF")
            starts.append(time.perf_counter() - t0)
            workload.setup(ctx)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s() - c0)
        tracer.spark = ctx.spark
        layers.install(tracer)
        try:
            workload.run(ctx, res)
        finally:
            tracer.unwrap_all()
        layer_vals = {}
        if tracer.enabled:
            tracer.collect_counters(ctx.spark)
            layer_vals = {
                **workload.layer_metrics(ctx),
                "session.start_s": statistics.median(starts),
                "session.cold_start_s": starts[0],
                "trace.overhead_s": tracer.overhead_s,
            }
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{run_id}.jsonl"))
        jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        _stop_jvm(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    res.gated["setup_s"] = statistics.median(setup_cpu)
    res.put("setup_s", res.gated["setup_s"], "s", len(setup_cpu))
    res.put("setup_wall_s", statistics.median(setups), "s", len(setups))
    res.put("failed_share", res.failed / res.attempted, "ratio", res.attempted)
    res.put("peak_rss_mb", peak_rss, "MB")
    correct = res.failed == 0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "metrics": res.report,
        "failed": res.failed,
        "attempted": res.attempted,
        "failures": res.failures,
    }
    if tracer.enabled:
        report["trace_file"] = os.path.relpath(os.path.join(WORK_ROOT, "traces", f"{run_id}.jsonl"), ROOT)
        metrics = {k: {"value": layer_vals.get(k, 0), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": res.gated[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps(report))
    print(
        json.dumps(
            {"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
