"""Seeded inputs for the benchmark's workloads. The engine sees only the files
written here; everything needed to check its outputs (planted CDC counts,
per-batch clock dates) is returned to the benchmark alongside the paths.

- catalog tables come from ``tools/make_testdata.generate``;
- medallion source images are TPC-H-shaped (customer, part, orders,
  lineitem), one full image per batch, laid out so that
  ``plans.adapters`` maps them onto order_items / order_item_options and
  the catalog's mart oracles run on them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEDALLION_TABLES = ("customer", "part", "orders", "lineitem")
EPOCH = date(1970, 1, 1)
# First day of the generated history; the dates only have to be fixed.
HISTORY_START = date(2023, 1, 1)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = [f"{a} {b}" for a in ("SMALL", "MEDIUM", "LARGE") for b in ("PLATED", "BRUSHED")]
LINES_PER_ORDER = 4
US_PER_DAY = 86_400_000_000
CUSTOMERS, PARTS, SUPPLIERS = 400, 300, 40
# Each incremental batch adds NEW_SHARE of the lines on one new, strictly
# later day and plants CHANGED_SHARE of them as option inserts, updates and
# deletes (a third each).
NEW_SHARE = CHANGED_SHARE = 0.01


@dataclass(frozen=True)
class MedallionShape:
    """``days`` of history holding about ``lines`` order lines, then
    ``batches`` daily incremental batches."""

    lines: int
    days: int
    batches: int


@dataclass(frozen=True)
class Batch:
    """One daily batch: its source image and what the engine must report."""

    index: int
    src_dir: str
    run_ts: str  # Clock value for the batch: the day after its newest line
    # Expected CDC action counts per table for this batch's bronze run.
    expected_cdc: dict[str, dict[str, int]]


def generate_catalog(out_dir: str, seed: int, scale: int) -> str:
    import make_testdata

    make_testdata.generate(out_dir, scale=scale, seed=seed)
    return out_dir


def _write(dir_: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet"))


def _option_rows(discount: np.ndarray, tax: np.ndarray) -> int:
    return int((discount > 0).sum() + (tax > 0).sum())


def generate_medallion(out_dir: str, seed: int, shape: MedallionShape) -> list[Batch]:
    """Write ``shape.batches + 1`` source images (batch 0 is the full load)
    under ``out_dir`` and return them in run order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start_day = (HISTORY_START - EPOCH).days

    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(1, CUSTOMERS + 1), pa.int64()),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), CUSTOMERS)]
            ),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(1, PARTS + 1), pa.int64()),
            "p_type": pa.array([TYPES[i] for i in rng.integers(0, len(TYPES), PARTS)]),
        }
    )

    # Columns of every line generated so far, grown by each batch.
    cols: dict[str, np.ndarray] = {}
    orders: dict[str, np.ndarray] = {}

    def add_orders(n_orders: int, days: np.ndarray) -> None:
        first = len(orders.get("o_orderkey", [])) + 1
        keys = np.arange(first, first + n_orders, dtype=np.int64)
        new_orders = {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, CUSTOMERS + 1, n_orders),
            "o_orderpriority": rng.integers(0, len(PRIORITIES), n_orders),
        }
        n = n_orders * LINES_PER_ORDER
        # Half the lines carry a discount, nearly all a tax: both option
        # kinds exist, and so do lines without a discount to insert one on.
        discount = np.where(rng.random(n) < 0.5, np.round(rng.uniform(0.01, 0.1, n), 2), 0.0)
        new_lines = {
            "l_orderkey": np.repeat(keys, LINES_PER_ORDER),
            "l_partkey": rng.integers(1, PARTS + 1, n),
            "l_suppkey": rng.integers(1, SUPPLIERS + 1, n),
            "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1), n_orders),
            "l_extendedprice": np.round(rng.uniform(5, 500, n), 2),
            "l_discount": discount,
            "l_tax": np.round(rng.uniform(0.01, 0.08, n), 2),
            "l_shipday": np.repeat(days, LINES_PER_ORDER),
        }
        for store, new in ((orders, new_orders), (cols, new_lines)):
            for k, v in new.items():
                store[k] = np.concatenate([store[k], v]) if k in store else v

    n_base_orders = max(1, shape.lines // LINES_PER_ORDER)
    add_orders(n_base_orders, start_day + rng.integers(0, shape.days, n_base_orders))

    def write_image(idx: int) -> str:
        d = os.path.join(out_dir, f"batch{idx:03d}")
        os.makedirs(d, exist_ok=True)
        _write(d, "customer", customer)
        _write(d, "part", part)
        _write(
            d,
            "orders",
            pa.table(
                {
                    "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
                    "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
                    "o_orderpriority": pa.array(
                        [PRIORITIES[i] for i in orders["o_orderpriority"]]
                    ),
                }
            ),
        )
        _write(
            d,
            "lineitem",
            pa.table(
                {
                    "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
                    "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
                    "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
                    "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
                    "l_extendedprice": pa.array(cols["l_extendedprice"]),
                    "l_discount": pa.array(cols["l_discount"]),
                    "l_tax": pa.array(cols["l_tax"]),
                    "l_shipdate": pa.array(cols["l_shipday"] * US_PER_DAY, pa.timestamp("us")),
                }
            ),
        )
        return d

    def run_ts(last_day: int) -> str:
        return (EPOCH + timedelta(days=last_day + 1)).isoformat() + "T06:00:00"

    n_lines = len(cols["l_orderkey"])
    n_days = len(np.unique(cols["l_shipday"]))
    batches = [
        Batch(
            0,
            write_image(0),
            run_ts(int(cols["l_shipday"].max())),
            {
                "order_items": {"insert": n_lines, "update": 0, "delete": 0},
                "order_item_options": {
                    "insert": _option_rows(cols["l_discount"], cols["l_tax"]),
                    "update": 0,
                    "delete": 0,
                },
                "date_dim": {"insert": n_days, "update": 0, "delete": 0},
            },
        )
    ]
    for b in range(1, shape.batches + 1):
        prev_last = int(cols["l_shipday"].max())
        # The bronze watermark on order_items is inclusive (>=), so the
        # lines sharing the previous newest timestamp are read again and
        # logged as inserts once more: an at-least-once edge of the engine.
        boundary = int((cols["l_shipday"] == prev_last).sum())
        old = len(cols["l_orderkey"])
        k = max(1, round(old * CHANGED_SHARE / 3))
        has_disc = np.flatnonzero(cols["l_discount"] > 0)
        no_disc = np.flatnonzero(cols["l_discount"] == 0)
        picked = rng.choice(has_disc, 2 * k, replace=False)
        upd, dele = picked[:k], picked[k:]
        ins = rng.choice(no_disc, k, replace=False)
        # An update moves the discount to a different non-zero rate; a
        # delete drops the discount option row; an insert adds one.
        cols["l_discount"][upd] = np.round(
            np.where(cols["l_discount"][upd] >= 0.05, cols["l_discount"][upd] - 0.03,
                     cols["l_discount"][upd] + 0.03), 2)
        cols["l_discount"][dele] = 0.0
        cols["l_discount"][ins] = np.round(rng.uniform(0.01, 0.1, k), 2)

        n_new_orders = max(1, round(old * NEW_SHARE / LINES_PER_ORDER))
        add_orders(n_new_orders, np.full(n_new_orders, prev_last + 1))
        new_disc = cols["l_discount"][old:]
        new_tax = cols["l_tax"][old:]
        batches.append(
            Batch(
                b,
                write_image(b),
                run_ts(prev_last + 1),
                {
                    "order_items": {
                        "insert": n_new_orders * LINES_PER_ORDER + boundary,
                        "update": 0,
                        "delete": 0,
                    },
                    "order_item_options": {
                        "insert": k + _option_rows(new_disc, new_tax),
                        "update": k,
                        "delete": k,
                    },
                    "date_dim": {"insert": 1, "update": 0, "delete": 0},
                },
            )
        )
    return batches


def epoch_day(iso: str) -> int:
    return (date.fromisoformat(iso[:10]) - EPOCH).days
