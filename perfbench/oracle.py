"""Output checks, run after the timed region. Every comparison goes
through ``tools/oracle_check.canon_rows`` so the benchmark and the
catalog's oracle gate agree on what "equal" means."""

from __future__ import annotations

import math
import os

import duckdb
from gen import MEDALLION_TABLES
from oracle_check import canon_rows, duckdb_run

from aws_glue_cdc_metrics_job_spark.plans import catalog
from aws_glue_cdc_metrics_job_spark.plans.adapters import NOW_ORDERS


def _connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}', hive_partitioning = true)")
    return con


def _parquet_glob(path: str) -> str:
    return f"{path}/**/*.parquet" if os.path.isdir(path) else path


def rows_equal(cols_a, rows_a, cols_b, rows_b) -> bool:
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    return canon_rows(cols_a, rows_a) == canon_rows(cols_b, rows_b)


# ---- catalog ---------------------------------------------------------------


def catalog_matches(name: str, data_dir: str, cols: list[str], rows: list) -> bool:
    """A query's collected result against its DuckDB oracle over the same
    files (the driver's exact value hash)."""
    ocols, orows, _ = duckdb_run(data_dir, catalog.ORACLE[name])
    return rows_equal(cols, rows, ocols, orows)


# ---- medallion gold ---------------------------------------------------------

GOLD_MARTS = (
    "fact_ltv_daily",
    "mart_customer_ltv_snapshot",
    "mart_customer_clv_segment",
    "mart_customer_rfm",
    "mart_customer_churn_profile",
    "mart_sales_trends_daily",
    "mart_sales_trends_weekly",
    "mart_sales_trends_monthly",
    "mart_sales_trends_hourly",
    "mart_loyalty_program_impact",
    "mart_location_performance",
    "mart_discount_effectiveness",
)


def gold_mismatches(gold_root: str, source_dir: str, today: str) -> list[str]:
    """Marts under ``gold_root`` that differ from the catalog oracle run
    over the final source image, with the run's clock date as 'now'."""
    src = _connect({t: f"{source_dir}/{t}.parquet" for t in MEDALLION_TABLES})
    bad = []
    for mart in GOLD_MARTS:
        sql = catalog.ORACLE[mart].replace(f"DATE '{NOW_ORDERS}'", f"DATE '{today}'")
        res = src.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{_parquet_glob(f'{gold_root}/{mart}')}', hive_partitioning = true)"
        )
        gcols = [d[0] for d in got.description]
        if not rows_equal(gcols, got.fetchall(), ocols, orows):
            bad.append(mart)
    return bad


# ---- dashboard --------------------------------------------------------------

# DuckDB twins of the bi tab builders, over the gold parquet they read.
BI_SQL = {
    "clv_kpis": (
        "mart_customer_clv_segment",
        "SELECT COUNT(DISTINCT USER_ID) AS TOTAL_CUSTOMERS, AVG(CUMULATIVE_LTV) AS AVG_CLV, "
        "COUNT(DISTINCT CASE WHEN CLV_GROUP = 'High' THEN USER_ID END) AS HIGH_VALUE_CUSTOMERS FROM m",
    ),
    "rfm_kpis": (
        "mart_customer_rfm",
        "SELECT COUNT(DISTINCT USER_ID) AS TOTAL_CUSTOMERS, AVG(RECENCY) AS AVG_RECENCY, "
        "AVG(FREQUENCY) AS AVG_FREQUENCY, AVG(MONETARY) AS AVG_MONETARY FROM m",
    ),
    "rfm_segment_summary": (
        "mart_customer_rfm",
        "SELECT SEGMENT, COUNT(USER_ID) AS CUSTOMERS, ROUND(AVG(RECENCY), 2) AS RECENCY, "
        "ROUND(AVG(FREQUENCY), 2) AS FREQUENCY, ROUND(AVG(MONETARY), 2) AS MONETARY FROM m GROUP BY SEGMENT",
    ),
    "churn_kpis": (
        "mart_customer_churn_profile",
        "SELECT COUNT(DISTINCT USER_ID) AS TOTAL_CUSTOMERS, "
        "AVG(DAYS_SINCE_LAST_ORDER) AS AVG_DAYS_SINCE_LAST_ORDER, AVG(AVG_ORDER_GAP_DAYS) AS AVG_ORDER_GAP, "
        "AVG(COALESCE(PCT_SPEND_CHANGE, 0.0)) AS AVG_PCT_SPEND_CHANGE FROM m",
    ),
    "daily_revenue_series": (
        "mart_sales_trends_daily",
        "SELECT CREATION_DATE, SUM(DAILY_REVENUE) AS DAILY_REVENUE FROM m GROUP BY CREATION_DATE",
    ),
    "loyalty_labeled": (
        "mart_loyalty_program_impact",
        "SELECT * REPLACE (CASE WHEN IS_LOYALTY THEN 'Loyalty Member' "
        "WHEN NOT IS_LOYALTY THEN 'Non-Member' END AS IS_LOYALTY) FROM m",
    ),
    "location_top": (
        "mart_location_performance",
        "SELECT RESTAURANT_ID, TOTAL_REVENUE, ORDERS_PER_DAY FROM m WHERE REVENUE_RANK <= 1",
    ),
    "discount_labeled": (
        "mart_discount_effectiveness",
        "SELECT * REPLACE (CASE IS_DISCOUNTED_ORDER WHEN 'Yes' THEN 'Discounted' "
        "WHEN 'No' THEN 'Full Price' END AS IS_DISCOUNTED_ORDER) FROM m",
    ),
    "fact_range": (
        "fact_ltv_daily",
        "SELECT * FROM m WHERE CREATION_DATE BETWEEN DATE '{lo}' AND DATE '{hi}'",
    ),
}


def _approx(v):
    # Spark and DuckDB sum doubles in different orders, so an AVG over a
    # mart may differ in its last bits; compare those at 12 significant
    # digits. Exact types (ints, strings, dates, decimals) compare exactly.
    if isinstance(v, float) and math.isfinite(v) and v != 0.0:
        return float(f"{v:.12g}")
    return v


def _pandas_rows(pdf) -> tuple[list[str], list[list]]:
    cols = list(pdf.columns)
    rows = []
    for rec in pdf.astype(object).itertuples(index=False, name=None):
        row = []
        for v in rec:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif hasattr(v, "to_pydatetime"):  # pandas Timestamp
                row.append(v.to_pydatetime())
            elif hasattr(v, "item") and not isinstance(v, (str, bytes)):  # numpy scalar
                row.append(v.item())
            else:
                row.append(v)
        rows.append(row)
    return cols, rows


def request_matches(gold_root: str, kind: str, params: dict, pdf) -> bool:
    mart, sql = BI_SQL[kind]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW m AS SELECT * FROM read_parquet('{_parquet_glob(f'{gold_root}/{mart}')}', hive_partitioning = true)"
    )
    res = con.execute(sql.format(**params))
    ocols = [d[0] for d in res.description]
    orows = [[_approx(v) for v in r] for r in res.fetchall()]
    cols, rows = _pandas_rows(pdf)
    rows = [[_approx(v) for v in r] for r in rows]
    return rows_equal(cols, rows, ocols, orows)
