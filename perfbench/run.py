"""Benchmark for the CDC metrics engine.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_batches --seed 7 --seconds 10 --trace 0

Workloads are described in ``workloads.py``. All load comes from this one
process: one closed-loop client on ``local[<cores>]``, with nothing
excluded from the timings (no forced GC between ops, so cleanup debt lands
in the op that pays it).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same seed untraced in a child process, then runs traced (spans, job groups,
an uncompressed Spark event log, JVM probes) and prints the per-layer
metrics plus ``trace.overhead_share.<metric>`` = (traced - untraced) /
untraced for each end-to-end metric.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. An op (a batch, a dashboard
request, a query) whose output check fails counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")

E2E = {"setup_s": "s", "peak_rss_mb": "MB", "pass_s": "s", "op_p50_ms": "ms"}

_ENGINE = {
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_run_s": "s",
    "engine.task_cpu_s": "s",
    "engine.task_gc_s": "s",
    "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.input_mb": "MB",
    "engine.first_job_delay_s": "s",
    "engine.idle_s": "s",
    "engine.slot_busy_share": "ratio",
    "jvm.gc_s": "s",
    "jvm.storage_residue_mb": "MB",
    "jvm.storage_residue_rdds": "count",
    "jvm.heap_used_peak_mb": "MB",
}
_GROUPED_UNITS = {"build_s": "s", "build_jobs": "count", "exec_s": "s", "task_cpu_s": "s", "idle_s": "s", "gc_s": "s"}
_OPERATOR_GROUPS = ("dedup", "graph", "relational", "similarity")

PER_LAYER = {
    "session.start_s": "s",
    "pipeline.full_load_s": "s",
    "pipeline.batch_p50_s": "s",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.revenue_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.jobs": "count",
    "pipeline.cdc_rows.insert": "count",
    "pipeline.cdc_rows.update": "count",
    "pipeline.cdc_rows.delete": "count",
    "pipeline.rows_written.bronze": "count",
    "pipeline.rows_written.cdc": "count",
    "pipeline.rows_written.silver": "count",
    "pipeline.rows_written.gold": "count",
    "pipeline.partitions_written": "count",
    "pipeline.useful_write_share": "ratio",
    "pipeline.zone_bytes_per_source_byte": "ratio",
    "sources.write_calls": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "sources.read_open_ms": "ms",
    "sources.files_read": "count",
    "state.calls": "count",
    "state.s": "s",
    "state.watermark_before_day": "day",
    "state.watermark_after_day": "day",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "plans.build_python_s": "s",
    "plans.exec_s": "s",
    "plans.silver_cache_builds": "count",
    "plans.silver_cache_hits": "count",
    "bi.request_p50_ms": "ms",
    "bi.request_p75_ms": "ms",
    "bi.build_ms": "ms",
    "bi.to_pandas_ms": "ms",
    "bi.rows_out": "count",
    **_ENGINE,
    **{f"operators.{g}.{k}": u for g in _OPERATOR_GROUPS for k, u in _GROUPED_UNITS.items()},
    **{f"trace.overhead_share.{k}": "ratio" for k in E2E},
}

# Input sizes. "full" is what the benchmark measures; "tiny" is for the
# benchmark's own smoke tests. A medallion batch costs about 15 s on 4
# cores whatever its row count (it runs about 140 Spark jobs, and its cost
# grows with the number of date partitions), so the history spans two
# weeks, not one year: a traced run, which also runs the seed untraced,
# has to fit in 180 s.
SIZES = {
    "full": {"medallion": dict(lines=6000, days=14, batches=1), "requests": 40, "catalog_scale": 2},
    "tiny": {"medallion": dict(lines=400, days=3, batches=1), "requests": 12, "catalog_scale": 1},
}
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prepare_env(scratch: str) -> None:
    """Everything Spark and its Python workers read from the environment,
    set before the JVM starts."""
    n = cores()
    os.makedirs(f"{scratch}/tmp", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = f"{scratch}/spark-local"
    os.environ["TMPDIR"] = f"{scratch}/tmp"


def start_session(scratch: str, traced: bool):
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{scratch}/spark-local",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        # The heap is committed and touched up front, so the process's peak
        # RSS follows what the run allocates beyond the heap (metaspace,
        # threads, Arrow and other native buffers, the Python driver), not
        # when G1 decides to grow the heap. Heap use itself is
        # jvm.heap_used_peak_mb in the traced run.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch}/tmp -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{scratch}/events",
                # Spark 4 compresses event logs with zstd by default, which
                # the standard library cannot read.
                "spark.eventLog.compress": "false",
                # The parser reads "Task Metrics"; the accumulator copies of
                # the same values only make the log bigger and slower to write.
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            }
        )
        os.makedirs(f"{scratch}/events", exist_ok=True)
    return get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)


def make_workload(name: str, root: str, seed: int, size: str):
    import gen
    import workloads

    s = SIZES[size]
    if name == "medallion_batches":
        return workloads.MedallionBatches(root, seed, gen.MedallionShape(**s["medallion"]), s["requests"])
    if name == "catalog_mix":
        return workloads.CatalogMix(root, seed, s["catalog_scale"])
    raise SystemExit(f"unknown workload {name!r}")


def run_once(args, traced: bool) -> dict:
    from aws_glue_cdc_metrics_job_spark.plans import catalog

    from tracing import Tracer, parse_event_log

    scratch = os.path.join(SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    prepare_env(scratch)
    try:
        wl = make_workload(args.workload, f"{scratch}/data", args.seed, args.size)
        t0 = time.perf_counter()
        spark = start_session(scratch, traced)
        session_s = time.perf_counter() - t0
        catalog.load_all()
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark, cores()) if traced else None
        if tracer:
            tracer.install()
        try:
            ops = wl.run(spark, args.seconds, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        wl.check(spark, ops)
        failed = sum(not op.ok for op in ops)
        e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss, **wl.e2e(ops)}
        spark.stop()
        metrics = e2e
        if traced:
            groups = parse_event_log(f"{scratch}/events")
            metrics = {"session.start_s": session_s}
            metrics.update(wl.layer_metrics(tracer, groups, ops, cores()))
            tracer.dump(os.path.join(SCRATCH, f"spans-{args.workload}.jsonl"))
        return {"attempted": len(ops), "failed": failed, "e2e": e2e, "metrics": metrics, "layers": wl.layers}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def untraced_child(args) -> dict:
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0", "--size", args.size,
    ]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, cwd=ROOT).stdout
    return json.loads(out.strip().splitlines()[-1])


def emit(result: dict, traced: bool, baseline: dict | None) -> dict:
    wanted = PER_LAYER if traced else E2E
    values = dict(result["metrics"])
    if traced:
        for k in E2E:
            base = baseline["metrics"][k]["value"]
            values[f"trace.overhead_share.{k}"] = (result["e2e"][k] - base) / base
    metrics = {}
    for name, unit in wanted.items():
        if name not in values:
            if name.split(".")[0] in result["layers"]:
                raise RuntimeError(f"workload did not report {name}")
            values[name] = 0.0  # a layer this workload does not exercise
        metrics[name] = {"value": float(values[name]), "unit": unit}
    failed = result["failed"] + (baseline["failed"] if baseline else 0)
    attempted = result["attempted"] + (baseline["attempted"] if baseline else 0)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["medallion_batches", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    try:
        import aws_glue_cdc_metrics_job_spark  # noqa: F401
        import make_testdata  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    traced = args.trace == 1
    baseline = untraced_child(args) if traced else None
    try:
        result = run_once(args, traced)
    finally:
        stop_jvm()
    print(json.dumps(emit(result, traced, baseline)))
    return 0


def stop_jvm() -> None:
    """End the py4j JVM and wait for it; closing its stdin is the signal
    PySpark's gateway server exits on."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


if __name__ == "__main__":
    raise SystemExit(main())
