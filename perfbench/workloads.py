"""The benchmark's workloads. Each one drives the engine only through its
public entry points and keeps everything it needs for the output checks
outside the timed region.

- ``medallion_batches``: the daily job and its BI surface. A full load
  into empty zones (set-up), then daily incremental CDC batches
  (``CdcPipeline.run_bronze`` / ``run_silver`` / ``build_order_revenue`` /
  ``run_gold``), then a seeded dashboard session over the gold zone the
  batches wrote (the ``bi`` tab builders and ``to_pandas``). Exercises the write path, the watermark
  store and the read cost of the write layout; bypasses the catalog's
  operator families.
- ``catalog_mix``: a fixed mix of catalog queries
  (``catalog.QUERIES[name](spark, dir)`` then a noop write) over
  ``make_testdata`` tables. Exercises plan building, eager jobs inside
  operators and materialization cleanup; bypasses the pipeline.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

import gen
import oracle
from tracing import MB, covered, op_engine_rows, parquet_files, parquet_rows

ZONES = ("bronze", "cdc", "snapshots", "silver", "gold")


@dataclass
class Op:
    id: str
    kind: str
    start: float = 0.0
    end: float = 0.0
    ok: bool = True
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _span(tracer, name, op=None):
    return tracer.span(name, op) if tracer else nullcontext()


def _tag(tracer, op_id, phase=None):
    return tracer.op(op_id, phase) if tracer else nullcontext()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def _engine_means(groups, tracer, op_ids) -> dict[str, float]:
    rows = [op_engine_rows(groups, tracer.op_probes, i, tracer.cores) for i in op_ids]
    return {k: _mean([r[k] for r in rows]) for k in rows[0]} if rows else {}


# ---- medallion_batches ------------------------------------------------------

# Dashboard requests: the seven tabs' builders over flat marts, plus
# date-range reads of the date-partitioned fact_ltv_daily. The
# partitioned class is kept between 10% and 40% of requests so that
# neither p50 nor p75 sits on the boundary between the two classes.
FLAT_REQUESTS = {
    "clv_kpis": "mart_customer_clv_segment",
    "rfm_kpis": "mart_customer_rfm",
    "rfm_segment_summary": "mart_customer_rfm",
    "churn_kpis": "mart_customer_churn_profile",
    "daily_revenue_series": "mart_sales_trends_daily",
    "loyalty_labeled": "mart_loyalty_program_impact",
    "location_top": "mart_location_performance",
    "discount_labeled": "mart_discount_effectiveness",
}
FACT_RANGE_SHARE = 0.25
FACT_RANGE_DAYS = 7


def _request_mart(kind: str) -> str:
    return "fact_ltv_daily" if kind == "fact_range" else FLAT_REQUESTS[kind]


def _cdc_counts(cdc_dir: str) -> dict[str, int]:
    """CDC rows per action from the parquet footers of one batch's log."""
    got = {"insert": 0, "update": 0, "delete": 0}
    for path in parquet_files(cdc_dir):
        got[path.split("cdc_action=")[1].split(os.sep)[0]] += parquet_rows(path)
    return got


class MedallionBatches:
    layers = {"session", "sources", "state", "pipeline", "bi", "engine", "jvm", "trace"}

    def __init__(self, root: str, seed: int, shape: gen.MedallionShape, requests: int):
        from aws_glue_cdc_metrics_job_spark.sources import MedallionLayout
        from aws_glue_cdc_metrics_job_spark.state import WatermarkStore

        self.batches = gen.generate_medallion(f"{root}/medallion-src", seed, shape)
        self.zones = f"{root}/zones"
        self.layout = MedallionLayout(self.zones)
        self.store = WatermarkStore(f"{self.zones}/state.json", default="1900-01-01")
        rng = np.random.default_rng(seed + 1)
        first = gen.HISTORY_START
        span_days = shape.days + shape.batches - FACT_RANGE_DAYS
        kinds = list(FLAT_REQUESTS)
        self.requests = []
        for _ in range(requests):
            if rng.random() < FACT_RANGE_SHARE:
                lo = first + timedelta(days=int(rng.integers(0, max(1, span_days))))
                hi = lo + timedelta(days=FACT_RANGE_DAYS - 1)
                self.requests.append(("fact_range", {"lo": lo.isoformat(), "hi": hi.isoformat()}))
            else:
                self.requests.append((kinds[int(rng.integers(0, len(kinds)))], {}))

    def warm_up(self, spark) -> None:
        """The full load (batch 0 into empty zones) is the set-up: it builds
        the zones the daily batches and the dashboard work on, and it pays
        the process's JIT warm-up, so the measured batches run warm."""
        self.full_load = self._batch(spark, self.batches[0])

    def _read_source(self, spark, src_dir: str):
        # Mirrors the CLI's pipeline source mapping, except that order_items
        # is built unmemoized: the memo keys on the directory, and one entry
        # per batch image would hold every batch's frame for the whole run.
        from pyspark.sql import functions as F

        from aws_glue_cdc_metrics_job_spark.plans import adapters

        def read_source(name: str):
            if name == "order_items":
                return adapters._order_items(spark, src_dir).withColumn(
                    "CREATION_TIME_UTC", F.col("CREATION_TIME_UTC").cast("timestamp")
                )
            if name == "order_item_options":
                return adapters.order_item_options(spark, src_dir)
            if name == "date_dim":
                return (
                    adapters._order_items(spark, src_dir)
                    .select(F.col("CREATION_TIME_UTC").cast("date").alias("date_key"))
                    .dropDuplicates()
                )
            raise ValueError(f"no source mapping for table {name!r}")

        return read_source

    def _batch(self, spark, b: gen.Batch, tracer=None) -> Op:
        from aws_glue_cdc_metrics_job_spark.pipeline import REFERENCE_TABLES, CdcPipeline
        from aws_glue_cdc_metrics_job_spark.session import Clock

        op = Op(f"b{b.index:02d}", "full_load" if b.index == 0 else "batch", info={"batch": b})
        p = CdcPipeline(spark, self.layout, self.store, Clock.fixed(b.run_ts), REFERENCE_TABLES)
        before = parquet_files(self.zones) if tracer else None
        op.info["wm_before"] = self.store._load().get("silver/order_items")
        op.start = time.perf_counter()
        with _tag(tracer, op.id):
            with _span(tracer, "pipeline.bronze", op.id):
                p.run_bronze(self._read_source(spark, b.src_dir))
            with _span(tracer, "pipeline.silver", op.id):
                p.run_silver()
            with _span(tracer, "pipeline.revenue", op.id):
                p.build_order_revenue("order_items", "order_item_options")
            with _span(tracer, "pipeline.gold", op.id):
                p.run_gold()
        op.end = time.perf_counter()
        op.info["wm_after"] = self.store._load().get("silver/order_items")
        if tracer:
            op.info["written"] = {k: v for k, v in parquet_files(self.zones).items() if before.get(k) != v}
        return op

    def run(self, spark, seconds: float, tracer=None) -> list[Op]:
        """The daily batches, then the dashboard session. The pass always
        completes, so ``seconds`` only bounds runs shorter than one pass.
        The full load from set-up leads the returned ops so that its
        output is checked too; it is not part of the measured pass."""
        from pyspark.sql import functions as F

        from aws_glue_cdc_metrics_job_spark import bi

        if tracer:
            tracer.wrap_store(self.store)
        ops = [self.full_load] + [self._batch(spark, b, tracer) for b in self.batches[1:]]
        for i, (kind, params) in enumerate(self.requests):
            op = Op(f"r{i:03d}", "request", info={"kind": kind, "params": params})
            op.start = time.perf_counter()
            with _tag(tracer, op.id):
                with _span(tracer, "sources.read_open", op.id):
                    df = bi.load_mart(spark, self.layout.gold(_request_mart(kind)))
                with _span(tracer, "bi.build", op.id):
                    if kind == "fact_range":
                        out = df.filter(F.col("CREATION_DATE").between(params["lo"], params["hi"]))
                    else:
                        out = getattr(bi, kind)(df)
                with _span(tracer, "bi.to_pandas", op.id):
                    pdf = bi.to_pandas(out)
            op.end = time.perf_counter()
            op.info["result"] = pdf
            op.info["rows_out"] = len(pdf)
            ops.append(op)
        return ops

    def check(self, spark, ops: list[Op]) -> None:
        batches = [op for op in ops if op.kind != "request"]
        for op in batches:
            b = op.info["batch"]
            today = b.run_ts[:10]
            if any(_cdc_counts(self.layout.cdc(t, today)) != want for t, want in b.expected_cdc.items()):
                op.ok = False
            # The silver watermark advances to the newest line's date.
            if op.info["wm_after"] != (date.fromisoformat(today) - timedelta(days=1)).isoformat():
                op.ok = False
        gold_root = f"{self.zones}/gold"
        last = batches[-1].info["batch"]
        if oracle.gold_mismatches(gold_root, last.src_dir, last.run_ts[:10]):
            batches[-1].ok = False
        for op in ops:
            if op.kind == "request":
                if not oracle.request_matches(gold_root, op.info["kind"], op.info["params"], op.info["result"]):
                    op.ok = False
                op.info.pop("result")

    def e2e(self, ops: list[Op]) -> dict[str, float]:
        batches = [op.seconds for op in ops if op.kind == "batch"]
        return {
            "pass_s": sum(op.seconds for op in ops if op.kind != "full_load"),
            "op_p50_ms": _median(batches) * 1000.0,
        }

    def layer_metrics(self, tracer, groups, ops: list[Op], cores: int) -> dict[str, float]:
        full = [op for op in ops if op.kind == "full_load"]
        incr = [op for op in ops if op.kind == "batch"]
        reqs = [op for op in ops if op.kind == "request"]
        m: dict[str, float] = {
            "pipeline.full_load_s": full[0].seconds,
            "pipeline.batch_p50_s": _median([op.seconds for op in incr]),
        }
        for stage in ("bronze", "silver", "revenue", "gold"):
            m[f"pipeline.{stage}_s"] = _mean([tracer.total(f"pipeline.{stage}", op.id) for op in incr])
        m["pipeline.jobs"] = _mean([groups[op.id]["jobs"] for op in incr if op.id in groups])

        per_batch = []
        for op in incr:
            b = op.info["batch"]
            today = b.run_ts[:10]
            row = {"insert": 0, "update": 0, "delete": 0}
            for table in b.expected_cdc:
                for action, n in _cdc_counts(self.layout.cdc(table, today)).items():
                    row[action] += n
            zone_rows = dict.fromkeys(ZONES, 0)
            partitions = set()
            for path in op.info["written"]:
                zone = os.path.relpath(path, self.zones).split(os.sep)[0]
                zone_rows[zone] += parquet_rows(path)
                parent = os.path.basename(os.path.dirname(path))
                if "=" in parent:
                    partitions.add(os.path.dirname(path))
            row.update({f"rows.{z}": n for z, n in zone_rows.items()})
            row["partitions"] = len(partitions)
            rewritten = zone_rows["silver"] + zone_rows["gold"]
            row["useful"] = (row["insert"] + row["update"] + row["delete"]) / rewritten if rewritten else 0.0
            per_batch.append(row)
        for action in ("insert", "update", "delete"):
            m[f"pipeline.cdc_rows.{action}"] = _mean([r[action] for r in per_batch])
        for zone in ("bronze", "cdc", "silver", "gold"):
            m[f"pipeline.rows_written.{zone}"] = _mean([r[f"rows.{zone}"] for r in per_batch])
        m["pipeline.partitions_written"] = _mean([r["partitions"] for r in per_batch])
        m["pipeline.useful_write_share"] = _mean([r["useful"] for r in per_batch])

        zone_bytes = sum(s for s, _ in parquet_files(self.zones).values())
        source_bytes = sum(
            s for op in full + incr for s, _ in parquet_files(op.info["batch"].src_dir).values()
        )
        m["pipeline.zone_bytes_per_source_byte"] = zone_bytes / source_bytes

        n_batches = len(incr)
        for key in ("write_calls", "files_written"):
            m[f"sources.{key}"] = tracer.counts[f"sources.{key}"] / n_batches
        m["sources.bytes_written_mb"] = tracer.counts["sources.bytes_written"] / n_batches / MB
        m["sources.write_s"] = tracer.total("sources.write_parquet") / n_batches
        m["sources.read_open_ms"] = _mean([tracer.total("sources.read_open", op.id) for op in reqs]) * 1000
        m["sources.files_read"] = _mean(
            [len(parquet_files(self.layout.gold(_request_mart(op.info["kind"])))) for op in reqs]
        )
        m["state.calls"] = tracer.counts["state.calls"] / n_batches
        m["state.s"] = tracer.total("state.call") / n_batches
        m["state.watermark_before_day"] = gen.epoch_day(incr[-1].info["wm_before"])
        m["state.watermark_after_day"] = gen.epoch_day(incr[-1].info["wm_after"])

        times = sorted(op.seconds * 1000.0 for op in reqs)
        m["bi.request_p50_ms"] = _median(times)
        m["bi.request_p75_ms"] = float(np.percentile(times, 75))
        m["bi.build_ms"] = _mean([tracer.total("bi.build", op.id) for op in reqs]) * 1000
        m["bi.to_pandas_ms"] = _mean([tracer.total("bi.to_pandas", op.id) for op in reqs]) * 1000
        m["bi.rows_out"] = _mean([op.info["rows_out"] for op in reqs])
        m.update(_engine_means(groups, tracer, [op.id for op in incr]))
        return m


# ---- catalog_mix ------------------------------------------------------------

# query -> the operators module it exercises. One query per family that
# ROADMAP work targets: the iterative graph hop loop, incremental dedup,
# the exact-cosine twin and a mart on the memoized silver frames (the CDC
# operators run in medallion_batches). The mix is sized so that a cold
# and two warm passes fit one run; every query has a DuckDB oracle.
# events_value_bootstrap_ci is left out: on some inputs its 6-decimal
# rounding disagrees with its oracle (make_testdata seed 3009, scale 2).
CATALOG_MIX = {
    "parts_copurchase_pagerank": "graph",
    "docs_incremental_dedup": "dedup",
    "mart_customer_churn_profile": "relational",
    "emb_cosine_topk": "similarity",
    "emb_cosine_topk_fast": "similarity",
}
OPERATOR_GROUPS = sorted(set(CATALOG_MIX.values()))
# One measured pass per started 4 s of --seconds: 10 s gives three passes,
# about 15 s of work on 4 cores.
PASS_BUDGET_S = 4.0
GROUPED = {
    "build_s": "plans.build_s",
    "build_jobs": "plans.build_jobs",
    "exec_s": "plans.exec_s",
    "task_cpu_s": "engine.task_cpu_s",
    "idle_s": "engine.idle_s",
    "gc_s": "jvm.gc_s",
}


class CatalogMix:
    layers = {"session", "plans", "operators", "engine", "jvm", "trace"}

    def __init__(self, root: str, seed: int, scale: int):
        self.data = gen.generate_catalog(f"{root}/catalog-data", seed, scale)

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def warm_up(self, spark) -> None:
        from aws_glue_cdc_metrics_job_spark.plans import catalog

        for name in CATALOG_MIX:
            self._noop(catalog.QUERIES[name](spark, self.data))

    def run(self, spark, seconds: float, tracer=None) -> list[Op]:
        """``ceil(seconds / PASS_BUDGET_S)`` passes over the mix. The count
        follows from ``seconds`` alone, not from how fast passes run, so
        every run reports the median of the same number of passes."""
        from aws_glue_cdc_metrics_job_spark.plans import catalog

        ops: list[Op] = []
        self.last: dict = {}
        for p in range(max(1, math.ceil(seconds / PASS_BUDGET_S))):
            for name in CATALOG_MIX:
                op = Op(f"q{len(ops):03d}", "query", info={"name": name, "pass": p})
                op.start = time.perf_counter()
                with _tag(tracer, op.id, "build"), _span(tracer, "plans.build", op.id):
                    df = catalog.QUERIES[name](spark, self.data)
                with _tag(tracer, op.id, "exec"), _span(tracer, "plans.exec", op.id):
                    self._noop(df)
                op.end = time.perf_counter()
                self.last[name] = df
                ops.append(op)
        return ops

    def check(self, spark, ops: list[Op]) -> None:
        bad = {
            name
            for name, df in self.last.items()
            if not oracle.catalog_matches(name, self.data, df.columns, [list(r) for r in df.collect()])
        }
        for op in ops:
            op.ok = op.info["name"] not in bad

    def e2e(self, ops: list[Op]) -> dict[str, float]:
        passes: dict[int, list[Op]] = {}
        for op in ops:
            passes.setdefault(op.info["pass"], []).append(op)
        return {
            "pass_s": _median([p[-1].end - p[0].start for p in passes.values()]),
            "op_p50_ms": _median([op.seconds for op in ops]) * 1000.0,
        }

    def layer_metrics(self, tracer, groups, ops: list[Op], cores: int) -> dict[str, float]:
        rows = {}
        for op in ops:
            r = op_engine_rows(groups, tracer.op_probes, op.id, cores)
            build = groups.get(f"{op.id}:build")
            build_s = tracer.total("plans.build", op.id)
            build_job_s = 0.0
            if build:
                probe = tracer.op_probes[f"{op.id}:build"]
                build_job_s = covered(build["job_intervals"], probe["start"], probe["end"])
            r.update(
                {
                    "plans.build_s": build_s,
                    "plans.build_jobs": build["jobs"] if build else 0,
                    "plans.build_job_s": build_job_s,
                    "plans.build_python_s": build_s - build_job_s,
                    "plans.exec_s": tracer.total("plans.exec", op.id),
                }
            )
            rows[op.id] = r
        m = {k: _mean([r[k] for r in rows.values()]) for k in next(iter(rows.values()))}
        n = len(ops)
        m["plans.silver_cache_builds"] = tracer.counts["plans.silver_cache_builds"] / n
        m["plans.silver_cache_hits"] = tracer.counts["plans.silver_cache_hits"] / n
        for group in OPERATOR_GROUPS:
            members = [rows[op.id] for op in ops if CATALOG_MIX[op.info["name"]] == group]
            for short, key in GROUPED.items():
                m[f"operators.{group}.{short}"] = _mean([r[key] for r in members])
        return m

