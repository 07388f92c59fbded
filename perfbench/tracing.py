"""Traced-run instrumentation, all of it on the benchmark side.

- ``Tracer.span`` records (name, start, end, parent, op) in memory; the
  spans are written out once, when the run ends.
- ``Tracer.install`` wraps the engine entry points a workload reaches
  (``write_parquet`` as the pipeline module looks it up, the
  ``WatermarkStore`` methods, the silver memo) so their time and counts
  land in the layer that owns them.
- Spark jobs are tagged with ``setJobGroup(<op id>)``; the uncompressed
  event log is parsed after the session stops into the ``engine.*`` rows.
- ``jvm.*`` rows come from py4j JMX beans and ``getRDDStorageInfo``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def parquet_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every parquet file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_probes: dict[str, dict[str, float]] = {}
        self._stack: list[str] = []
        self._undo: list = []
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType().toString()) == "Heap memory"]

    # ---- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), parent, op))

    def total(self, name: str, op: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (of one op, if given)."""
        return sum(s.dur for s in self.spans if s.name == name and (op is None or s.op == op))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")

    # ---- op tagging and JVM probes -----------------------------------------

    @contextmanager
    def op(self, op_id: str, phase: str | None = None):
        """Tag the Spark jobs of one op (or one phase of it) and probe the
        driver JVM around it."""
        group = f"{op_id}:{phase}" if phase else op_id
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        before = self._jvm_gc_s()
        self._reset_heap_peak()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc.setJobGroup("bench", "bench")
            mem_mb, rdds = self._storage()
            self.op_probes[group] = {
                "start": start,
                "end": end,
                "gc_s": self._jvm_gc_s() - before,
                "heap_peak_mb": self._heap_peak_mb(),
                "residue_mb": mem_mb,
                "residue_rdds": rdds,
            }

    def _jvm_gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def _reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def _heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / MB

    def _storage(self) -> tuple[float, int]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB, len(infos)

    # ---- engine entry-point wrappers ----------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, wrapper(original))
        self._undo.append((owner, attr, original))

    def install(self) -> None:
        from aws_glue_cdc_metrics_job_spark import pipeline
        from aws_glue_cdc_metrics_job_spark.plans import adapters

        tracer = self

        def wrap_write(fn):
            def write_parquet(df, path, *args, **kwargs):
                start_ns = time.time_ns()
                with tracer.span("sources.write_parquet"):
                    fn(df, path, *args, **kwargs)
                written = [s for s, m in parquet_files(path).values() if m >= start_ns]
                tracer.counts["sources.write_calls"] += 1
                tracer.counts["sources.files_written"] += len(written)
                tracer.counts["sources.bytes_written"] += sum(written)

            return write_parquet

        def wrap_memo(fn):
            def _memoized(spark, sf_dir, name, build):
                hit = (id(spark), sf_dir, name) in adapters._SILVER_CACHE
                tracer.counts["plans.silver_cache_hits" if hit else "plans.silver_cache_builds"] += 1
                return fn(spark, sf_dir, name, build)

            return _memoized

        self._patch(pipeline, "write_parquet", wrap_write)
        self._patch(adapters, "_memoized", wrap_memo)

    def wrap_store(self, store) -> None:
        """Time and count every call on one ``WatermarkStore`` instance."""
        tracer = self
        for name in ("get", "set", "advance"):
            fn = getattr(store, name)

            def wrapped(*args, _fn=fn, **kwargs):
                tracer.counts["state.calls"] += 1
                with tracer.span("state.call"):
                    return _fn(*args, **kwargs)

            setattr(store, name, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


# ---- event log -------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order. Spark 4 writes each application as
    a directory of rolled ``events_<n>_<app>`` files."""

    def index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    return sorted(glob.glob(os.path.join(log_dir, "*", "events_*")), key=index)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job/stage/task counts, task metric sums, first job
    submission time and the task intervals."""
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "task_gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
            "first_job": None,
            "intervals": [],
            "job_intervals": [],
        }
    )
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    g = groups[group]
                    g["jobs"] += 1
                    sub = ev["Submission Time"] / 1000.0
                    g["first_job"] = sub if g["first_job"] is None else min(g["first_job"], sub)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    job_start[ev["Job ID"]] = (group, sub)
                elif kind == "SparkListenerJobEnd":
                    group, sub = job_start[ev["Job ID"]]
                    groups[group]["job_intervals"].append((sub, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["task_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
                    g["spill_mb"] += (m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)) / MB
                    g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                    g["intervals"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    return groups


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


ENGINE_SUMS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "task_gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
)


def op_engine_rows(groups: dict[str, dict], probes: dict[str, dict], op_id: str, cores: int) -> dict[str, float]:
    """engine.* and jvm.* rows for one op, merging all its phases."""
    phases = [g for g in probes if g == op_id or g.startswith(op_id + ":")]
    start = min(probes[p]["start"] for p in phases)
    end = max(probes[p]["end"] for p in phases)
    wall = max(end - start, 1e-9)
    row = {f"engine.{k}": sum(groups[p][k] for p in phases if p in groups) for k in ENGINE_SUMS}
    intervals = [iv for p in phases if p in groups for iv in groups[p]["intervals"]]
    firsts = [groups[p]["first_job"] for p in phases if p in groups and groups[p]["first_job"] is not None]
    row["engine.first_job_delay_s"] = (min(firsts) - start) if firsts else wall
    row["engine.idle_s"] = wall - covered(intervals, start, end)
    row["engine.slot_busy_share"] = row["engine.task_run_s"] / (wall * cores)
    row["jvm.gc_s"] = sum(probes[p]["gc_s"] for p in phases)
    row["jvm.heap_used_peak_mb"] = max(probes[p]["heap_peak_mb"] for p in phases)
    last = max(phases, key=lambda p: probes[p]["end"])
    row["jvm.storage_residue_mb"] = probes[last]["residue_mb"]
    row["jvm.storage_residue_rdds"] = probes[last]["residue_rdds"]
    return row
