"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship conditioned pipeline at sf0.001.
``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
training-data extensions) to a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` holds the DuckDB-equivalent SQL for the hash comparison.

Determinism conventions (so Spark and DuckDB hash-match):
- money/value aggregates go through DECIMAL casts (exact) and only then to
  DOUBLE — bit-identical across engines regardless of summation order;
- transcendental math (exp/log/sqrt chains) is rounded to 6 decimals;
- every top-k / keep-first uses a total ordering (value, then id);
- all computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tern_ep_data_pipeline_spark.functions import conversions as cv
from tern_ep_data_pipeline_spark.functions import met
from tern_ep_data_pipeline_spark.operators import (
    conditioning,
    dedup,
    gaps,
    masking,
    merge,
    regularise,
    reshape,
    rollup,
    similarity,
    status,
    temporal,
    text,
    windows,
)
from tern_ep_data_pipeline_spark.operators import multimodal
from tern_ep_data_pipeline_spark.plans import profile as profile_plan
from tern_ep_data_pipeline_spark.plans.l1 import condition_events
from tern_ep_data_pipeline_spark.session import apply_engine_conf
from tern_ep_data_pipeline_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

SF001 = "/root/testdata/sf0.001"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_engine_conf(spark)
    return load_table(spark, sf_dir, name)


def _dec(col: str, p: int = 12, s: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({p},{s})")


def _dsum(col: str, p: int = 12, s: int = 2) -> F.Column:
    """Order-insensitive exact sum: decimal accumulate, double out."""
    return F.sum(_dec(col, p, s)).cast("double")


# --------------------------------------------------------------------------
# Relational core (join/agg/sort conformance on the TPC-H-ish tables)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (scan-heavy groupBy aggregation with pushed filter),
    fused with the Q17-shape small-quantity-revenue branch as a tagged UNION
    (round 7: frees the registry slot that splits ``doc_profile`` in two —
    same tagged-UNION trick as the other fused suites)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 6, 4)
    charge_mul = F.lit(1).cast("decimal(6,4)") + _dec("l_tax", 6, 4)
    nd = F.lit(None).cast("double")
    nb = F.lit(None).cast("bigint")
    q1 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(_dec("l_extendedprice") * disc * charge_mul), 2).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
        .select(
            F.lit("q1").alias("part"), "l_returnflag", "l_linestatus",
            "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
            "count_order", "avg_qty", "avg_price",
            nd.alias("small_qty_revenue"), nb.alias("n_lineitems"),
        )
    )
    ns = F.lit(None).cast("string")
    q17 = q_small_quantity_revenue(spark, sf_dir).select(
        F.lit("q17").alias("part"), ns.alias("l_returnflag"),
        ns.alias("l_linestatus"), nd.alias("sum_qty"),
        nd.alias("sum_base_price"), nd.alias("sum_disc_price"),
        nd.alias("sum_charge"), nb.alias("count_order"), nd.alias("avg_qty"),
        nd.alias("avg_price"), "small_qty_revenue", "n_lineitems",
    )
    return q1.unionByName(q17)


ORACLE_PRICING_Q1 = """
SELECT 'q1' AS part, l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(NULL AS DOUBLE) AS small_qty_revenue,
  CAST(NULL AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, group, deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    disc = F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 6, 4)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    out = (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return out


ORACLE_SHIPPING = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join with broadcast dims, revenue by nation.
    Past the same plan-time size gate as q17, the two fact-side joins
    (filtered orders, customer) hint SHUFFLE_HASH: at sf10 the default
    sort-merge pair spilled 1.5 GB + 664 MB sorting the lineitem probe
    side; hash-building the smaller sides runs with ZERO spill and
    ~1.4x faster, identical results (measured, local[32]/8g)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    if _past_shuffle_hash_gate(li):
        orders = orders.hint("shuffle_hash")
        cust = cust.hint("shuffle_hash")
    disc = F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 6, 4)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue")
    )


ORACLE_REGION = """
SELECT n_name,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit (O-class): top-10 customers by exact total spend."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_custkey")
        .agg(
            _dsum("o_totalprice", 14, 2).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spent", "n_orders")
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )
    return out


ORACLE_TOP_CUST = """
SELECT c_custkey, c_name,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_spent,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
"""


def q_order_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11-style year extraction + counting aggregation."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            "o_orderpriority",
        ).agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_PRIORITY_YEAR = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderpriority, COUNT(*) AS n_orders
FROM orders GROUP BY 1, 2
"""


def q_returned_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with >=1 returned lineitem,
    counted by priority. The semi-join shuffles only (orderkey) pairs; the
    probe side never materialises lineitem payload columns."""
    orders = _t(spark, sf_dir, "orders")
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_RETURNED_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join + double aggregation — how many
    customers placed exactly N orders (including zero). Both aggregations
    are partial-combinable; the second input is one row per customer."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


ORACLE_CUSTOMER_DIST = """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders
"""


def q_never_ordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-adjacent: NOT EXISTS anti-join — parts that never shipped a
    near-full-quantity (>48) lineitem, counted by brand. The anti-join build
    side is the filtered distinct partkey set (longs), not lineitem rows."""
    part = _t(spark, sf_dir, "part")
    bulk = (
        _t(spark, sf_dir, "lineitem")
        .filter(_dec("l_quantity") > 48)
        .select("l_partkey")
    )
    return (
        part.join(bulk, part.p_partkey == bulk.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


ORACLE_NEVER_ORDERED = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND CAST(l_quantity AS DECIMAL(12,2)) > 48)
GROUP BY p_brand
"""


#: Lineitem rows above which the big fact-side joins (q17's partkey
#: join, q5's orders/customer joins) hint SHUFFLE_HASH:
#: below it the per-part aggregate broadcasts (leave the planner alone);
#: above it broadcast is off the table and the default sort-merge join
#: SORTS the corpus-sized probe side — measured at sf10 (60M rows,
#: local[32]/8g): SMJ 27.6s with 8.6 GB memory spill vs shuffle-hash
#: 12.0s at half the spill, identical results. ~8M lineitem rows is
#: where the aggregate side (~rows/30 parts) outgrows the 10 MB
#: broadcast threshold.
_Q17_SHUFFLE_HASH_ROWS = 8_000_000

#: Conservative bytes/row for the pruned lineitem scans the gate sizes —
#: shared by every call site so the plan policy can't silently fork.
_LINEITEM_ROW_BYTES = 96


def _past_shuffle_hash_gate(lineitem: DataFrame) -> bool:
    """Plan-time (zero jobs) size gate shared by the q17/Q5-shape
    queries: True once the lineitem scan's optimizer byte estimate
    clears ``_Q17_SHUFFLE_HASH_ROWS``, the measured point where hinting
    SHUFFLE_HASH on the smaller join sides beats sort-merge's
    spill-prone sort of the corpus-sized probe side. Below it the gate
    stays off, so small-sf (oracle/bench) plans are byte-identical to
    the unhinted ones."""
    from tern_ep_data_pipeline_spark.operators.sampling import (
        scan_rows_lower_bound,
    )

    return scan_rows_lower_bound(lineitem, _LINEITEM_ROW_BYTES) > _Q17_SHUFFLE_HASH_ROWS


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average — revenue from lineitems
    whose quantity is below half their part's average quantity. The
    correlation is decorrelated into a per-part aggregate joined back on
    partkey; the predicate ``2*qty*cnt < sum`` keeps the comparison in exact
    decimal/integer arithmetic (no float-boundary divergence between
    engines). Past ``_Q17_SHUFFLE_HASH_ROWS`` (plan-time byte estimate,
    zero jobs) the join hints SHUFFLE_HASH: hash-building the small
    aggregate side beats sort-merge's spill-prone sort of the
    corpus-sized probe side."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(_dec("l_quantity")).alias("__sum_qty"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    if _past_shuffle_hash_gate(li):
        per_part = per_part.hint("shuffle_hash")
    joined = li.join(per_part, li.l_partkey == F.col("__pk"))
    below = joined.filter(
        _dec("l_quantity") * 2 * F.col("__cnt") < F.col("__sum_qty")
    )
    return below.agg(
        _dsum("l_extendedprice", 14, 2).alias("small_qty_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


ORACLE_SMALL_QTY = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS small_qty_revenue,
  COUNT(*) AS n_lineitems
FROM lineitem l
JOIN (
  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
) p ON l.l_partkey = p.pk
WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 2 * p.cnt < p.sum_qty
"""


#: Fused Q1 + Q17 oracle (matches q_pricing_summary's tagged UNION).
ORACLE_PRICING = f"""
{ORACLE_PRICING_Q1}
UNION ALL
SELECT 'q17' AS part, CAST(NULL AS VARCHAR) AS l_returnflag,
  CAST(NULL AS VARCHAR) AS l_linestatus, CAST(NULL AS DOUBLE) AS sum_qty,
  CAST(NULL AS DOUBLE) AS sum_base_price, CAST(NULL AS DOUBLE) AS sum_disc_price,
  CAST(NULL AS DOUBLE) AS sum_charge, CAST(NULL AS BIGINT) AS count_order,
  CAST(NULL AS DOUBLE) AS avg_qty, CAST(NULL AS DOUBLE) AS avg_price,
  sq.small_qty_revenue, sq.n_lineitems
FROM ({ORACLE_SMALL_QTY}) sq
"""


# --------------------------------------------------------------------------
# Conditioning / dedupe (P4, P6, P7)
# --------------------------------------------------------------------------

def q_dedupe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: exact duplicate-record elimination (projected key)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    return conditioning.drop_duplicate_records(ev)


ORACLE_DEDUPE_EXACT = "SELECT DISTINCT user_id, event_type, value FROM events"


def q_dedupe_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: one row per (user, type) with deterministic latest-wins."""
    ev = _t(spark, sf_dir, "events")
    out = conditioning.keep_first_per_timestamp(
        ev, ["user_id", "event_type"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_type", "event_id", "ts", "value")


ORACLE_KEEP_LATEST = """
SELECT user_id, event_type, event_id, ts, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
"""


def q_duplicate_minute_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 report: (user, minute) keys holding more than one event."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_minute", F.date_trunc("minute", F.col("ts"))
    )
    return conditioning.duplicate_timestamp_count(ev, ["user_id", "ts_minute"])


ORACLE_DUP_MINUTE = """
SELECT user_id, date_trunc('minute', ts) AS ts_minute, COUNT(*) AS n_rows
FROM events GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


# --------------------------------------------------------------------------
# Time regularisation / gaps (W3, A1, A2, A3)
# --------------------------------------------------------------------------

def q_grid_regularise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: dense hourly grid left-joined with hourly aggregates."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("grid_ts")).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value").alias("sum_value"),
    )
    grid = regularise.time_grid(ev, "ts", "1 hour", truncate_to="hour").withColumnRenamed(
        "ts", "grid_ts"
    )
    return grid.join(hourly, on="grid_ts", how="left")


ORACLE_GRID = """
WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
g AS (SELECT unnest(generate_series(lo, hi, interval '1 hour')) AS grid_ts FROM b),
h AS (SELECT date_trunc('hour', ts) AS grid_ts, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1)
SELECT g.grid_ts, h.n_events, h.sum_value FROM g LEFT JOIN h USING (grid_ts)
"""


def q_interval_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-user (min, modal) successive timestamp delta in seconds."""
    ev = _t(spark, sf_dir, "events")
    out = regularise.infer_interval_seconds(ev, "ts", ["user_id"])
    return out.select("user_id", "min_delta_s", "mode_delta_s", F.col("n_deltas").cast("bigint").alias("n_deltas"))


ORACLE_INTERVAL_MODE = """
WITH dist AS (SELECT DISTINCT user_id, ts FROM events),
d AS (SELECT user_id, date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) // 1000000 AS ds FROM dist),
c AS (SELECT user_id, ds, COUNT(*) AS n FROM d WHERE ds IS NOT NULL GROUP BY 1, 2),
m AS (SELECT user_id, ds AS mode_delta_s FROM c QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, ds ASC) = 1),
s AS (SELECT user_id, min(ds) AS min_delta_s, CAST(SUM(n) AS BIGINT) AS n_deltas FROM c GROUP BY 1)
SELECT s.user_id, s.min_delta_s, m.mode_delta_s, s.n_deltas FROM s JOIN m USING (user_id)
"""


ORACLE_GAP_REPORT = """
WITH dist AS (SELECT DISTINCT ts FROM events),
d AS (SELECT lag(ts) OVER (ORDER BY ts) AS prev_ts, ts FROM dist)
SELECT prev_ts AS gap_start, ts AS gap_end,
  date_diff('microsecond', prev_ts, ts) // 1000000 AS gap_seconds
FROM d WHERE date_diff('microsecond', prev_ts, ts) // 1000000 > 600
"""


def q_missing_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-user expected-vs-actual record accounting at a 1 h interval."""
    ev = _t(spark, sf_dir, "events")
    return gaps.missing_record_stats(ev, "ts", 3600, ["user_id"])


ORACLE_MISSING = """
SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts, COUNT(*) AS n_actual,
  CAST(date_diff('microsecond', min(ts), max(ts)) // 1000000 // 3600 AS BIGINT) + 1 AS n_expected,
  CAST(date_diff('microsecond', min(ts), max(ts)) // 1000000 // 3600 AS BIGINT) + 1 - COUNT(*) AS n_missing,
  round((CAST(date_diff('microsecond', min(ts), max(ts)) // 1000000 // 3600 AS BIGINT) + 1 - COUNT(*)) * 100.0
        / (CAST(date_diff('microsecond', min(ts), max(ts)) // 1000000 // 3600 AS BIGINT) + 1), 6) AS pct_missing
FROM events GROUP BY user_id
"""


ORACLE_GAP_HISTOGRAM = """
WITH dist AS (SELECT DISTINCT ts FROM events),
d AS (SELECT CAST(date_diff('microsecond', lag(ts) OVER (ORDER BY ts), ts) // 1000000 // 300 AS BIGINT) AS n_intervals FROM dist)
SELECT n_intervals, COUNT(*) AS n_gaps FROM d WHERE n_intervals > 1 GROUP BY 1
"""


# --------------------------------------------------------------------------
# Masking / QC (P3) and unit/met functions (§2.8)
# --------------------------------------------------------------------------

def q_range_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: null-masking range filter + QC flag (masks, never drops rows)."""
    ev = _t(spark, sf_dir, "events")
    masked = masking.mask_range(F.col("value"), 10.0, 400.0)
    return ev.select(
        "event_id",
        masked.alias("value_masked"),
        masking.qc_flag(masked).cast("bigint").alias("qc_flag"),
    )


ORACLE_RANGE_MASK = """
SELECT event_id,
  CASE WHEN value >= 10.0 AND value <= 400.0 THEN value END AS value_masked,
  CAST(CASE WHEN value >= 10.0 AND value <= 400.0 THEN 0 ELSE 1 END AS BIGINT) AS qc_flag
FROM events
"""


# --------------------------------------------------------------------------
# Windows / time-series (W1, W4, W6, A4, A7)
# --------------------------------------------------------------------------

def q_storage_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-user lag difference (storage-flux shape, exact doubles)."""
    ev = _t(spark, sf_dir, "events")
    out = windows.lag_diff(ev, "value", "ts", ["user_id"], out_col="delta")
    return out.select("event_id", "user_id", "ts", "value", "delta")


ORACLE_STORAGE_LAG = """
SELECT event_id, user_id, ts, value,
  (value - lag(value) OVER (PARTITION BY user_id ORDER BY ts)) * 1.0 AS delta
FROM events
"""


def q_tumbling_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: 30-minute tumbling block reference + value sums."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("block_start", windows.tumbling_bucket("ts", 30))
        .groupBy("block_start")
        .agg(
            F.count(F.lit(1)).alias("n_recs"),
            _dsum("value").alias("sum_value"),
        )
    )


ORACLE_TUMBLING = """
SELECT time_bucket(INTERVAL '30 minutes', ts) AS block_start, COUNT(*) AS n_recs,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_diel_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: diel (hour-of-day) mean per event type, exact decimal mean."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.hour("ts").cast("bigint").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (_dsum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
    )


ORACLE_DIEL = """
SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def q_last_valid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-user staleness/validity stats (valid = in [10, 400])."""
    ev = _t(spark, sf_dir, "events")
    valid = F.col("value").between(10.0, 400.0)
    return status.last_valid_stats(ev, "ts", "value", valid, ["user_id"])


ORACLE_LAST_VALID = """
SELECT user_id, max(ts) AS last_ts,
  max_by(value, ts) FILTER (WHERE value BETWEEN 10.0 AND 400.0) AS last_valid_value,
  max(ts) FILTER (WHERE value BETWEEN 10.0 AND 400.0) AS last_valid_ts,
  COUNT(*) AS n_records,
  CAST(COUNT(*) FILTER (WHERE value BETWEEN 10.0 AND 400.0) AS BIGINT) AS n_valid,
  round(CAST(COUNT(*) FILTER (WHERE value BETWEEN 10.0 AND 400.0) AS BIGINT) * 100.0 / COUNT(*), 6) AS pct_valid
FROM events GROUP BY user_id
"""


def q_trailing_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: fraction of valid records in each user's trailing 24 h."""
    ev = _t(spark, sf_dir, "events")
    valid = F.col("value").between(10.0, 400.0)
    return windows.trailing_validity_fraction(ev, "ts", valid, 86400, ["user_id"])


ORACLE_TRAILING = """
WITH m AS (SELECT user_id, max(ts) AS last_ts FROM events GROUP BY 1)
SELECT e.user_id, m.last_ts,
  round(avg(CASE WHEN date_diff('microsecond', e.ts, m.last_ts) <= 86400000000
       THEN CASE WHEN e.value BETWEEN 10.0 AND 400.0 THEN 1.0 ELSE 0.0 END END), 6) AS trailing_valid_frac
FROM events e JOIN m USING (user_id)
GROUP BY e.user_id, m.last_ts
"""


# --------------------------------------------------------------------------
# Joins / set ops (J4, J7, J8, J9, U1, U3)
# --------------------------------------------------------------------------

def q_nearest_size_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 argmin join: per brand, the part nearest target size 25."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.abs(F.col("p_size") - 25), F.col("p_size"), F.col("p_partkey")
    )
    return (
        part.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("p_brand", F.col("p_partkey").alias("best_partkey"), F.col("p_size").alias("best_size"))
    )


ORACLE_NEAREST = """
SELECT p_brand, p_partkey AS best_partkey, p_size AS best_size FROM part
QUALIFY row_number() OVER (PARTITION BY p_brand ORDER BY abs(p_size - 25), p_size, p_partkey) = 1
"""


def q_calendar_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: expected-vs-available calendar anti-join on order days."""
    orders = _t(spark, sf_dir, "orders")
    grid = regularise.time_grid(orders, "o_orderdate", "1 day", truncate_to="day")
    present = orders.select(
        F.date_trunc("day", "o_orderdate").alias("o_orderdate")
    ).distinct()
    return grid.join(present, on="o_orderdate", how="left_anti").select(
        F.col("o_orderdate").alias("missing_day")
    )


ORACLE_CALENDAR_ANTI = """
WITH b AS (SELECT date_trunc('day', min(o_orderdate)) AS lo, date_trunc('day', max(o_orderdate)) AS hi FROM orders),
g AS (SELECT unnest(generate_series(lo, hi, interval '1 day')) AS day FROM b),
p AS (SELECT DISTINCT date_trunc('day', o_orderdate) AS day FROM orders)
SELECT day AS missing_day FROM g ANTI JOIN p USING (day)
"""


def q_set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: intersect / difference of customer vs supplier nation sets."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cust.intersect(supp).withColumn("tag", F.lit("both"))
    c_only = cust.subtract(supp).withColumn("tag", F.lit("customer_only"))
    s_only = supp.subtract(cust).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(c_only).unionByName(s_only)


ORACLE_SET_OPS = """
SELECT nationkey, 'both' AS tag FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM
  (SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'supplier_only' AS tag FROM
  (SELECT DISTINCT s_nationkey AS nationkey FROM supplier EXCEPT SELECT DISTINCT c_nationkey FROM customer)
"""


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: overlapping-slice union -> dedupe -> daily counts."""
    ev = _t(spark, sf_dir, "events")
    first = ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"))
    second = ev.filter(F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
    u = merge.union_dedup_sort([first, second], "ts")
    return u.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )


ORACLE_UNION_DEDUP = """
WITH u AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
  UNION
  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
)
SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM u GROUP BY 1
"""


def q_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: watermark-filtered incremental selection."""
    ev = _t(spark, sf_dir, "events")
    import datetime

    wm = datetime.datetime(2024, 1, 25)
    return merge.incremental_new_files(ev, "ts", wm).select("event_id", "ts", "user_id")


ORACLE_INCREMENTAL = """
SELECT event_id, ts, user_id FROM events WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
"""


def q_dim_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: broadcast catalog translation (event_type -> category)."""
    ev = _t(spark, sf_dir, "events")
    mapping = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("signup", "conversion"),
            ("purchase", "conversion"),
            ("error", "fault"),
        ],
        ["event_type", "category"],
    )
    return ev.join(F.broadcast(mapping), on="event_type").select(
        "event_id", "event_type", "category"
    )


ORACLE_DIM_TRANSLATE = """
SELECT event_id, e.event_type, m.category
FROM events e
JOIN (VALUES ('click','engagement'),('view','engagement'),('signup','conversion'),
             ('purchase','conversion'),('error','fault')) AS m(event_type, category)
  ON e.event_type = m.event_type
"""


def q_status_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: status collation — per-user status aggregates joined on the key.

    Scale shape: the two plain per-user aggregates (last-valid stats and
    missing-record accounting) FUSE into one groupBy — one scan + one
    shuffle instead of two of each — because Catalyst does not dedupe
    repeated scans across join branches. Only the gap report, which needs
    a lag window before aggregating, stays a separate branch.
    """
    ev = _t(spark, sf_dir, "events")
    valid = F.col("value").between(10.0, 400.0)
    fused = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.round(
            F.count(F.when(valid, F.lit(1))) * 100.0 / F.count(F.lit(1)), 6
        ).alias("pct_valid"),
        (
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts)) div 1000000 div 3600")
            + 1
            - F.count(F.lit(1))
        ).alias("n_missing"),
    )
    s3 = gaps.gap_report(ev, "ts", 14400, ["user_id"]).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_big_gaps")
    )
    return fused.join(s3, "user_id", "left")


ORACLE_STATUS_COLLATION = """
WITH s1 AS (
  SELECT user_id, max(ts) AS last_ts,
    round(CAST(COUNT(*) FILTER (WHERE value BETWEEN 10.0 AND 400.0) AS BIGINT) * 100.0 / COUNT(*), 6) AS pct_valid
  FROM events GROUP BY 1
), s2 AS (
  SELECT user_id,
    CAST(date_diff('microsecond', min(ts), max(ts)) // 1000000 // 3600 AS BIGINT) + 1 - COUNT(*) AS n_missing
  FROM events GROUP BY 1
), d AS (
  SELECT user_id, date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) // 1000000 AS ds
  FROM (SELECT DISTINCT user_id, ts FROM events)
), s3 AS (
  SELECT user_id, COUNT(*) AS n_big_gaps FROM d WHERE ds > 14400 GROUP BY 1
)
SELECT s1.user_id, s1.last_ts, s1.pct_valid, s2.n_missing, s3.n_big_gaps
FROM s1 JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


# --------------------------------------------------------------------------
# Reshape (R1, R2)
# --------------------------------------------------------------------------

def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: long -> wide pivot of daily mean value per event type."""
    ev = _t(spark, sf_dir, "events")
    avg_expr = (_dsum("value") / F.count(F.lit(1))).alias("v")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(avg_expr)
    )


def q_height_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3+R4: two measured heights -> linear interpolation to targets, plus
    broadcast of one column across the height axis (profile prep shapes)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("value") / 10.0).alias("t_low"),
        (F.col("value") / 10.0 + 2.0).alias("t_high"),
    )
    interp = reshape.interpolate_heights(base, "t_low", "t_high", 7.0, 30.0, [12.0, 20.0])
    out = reshape.broadcast_to_heights(interp, [0.5, 7.0, 30.0], out_col="height")
    return out.select(
        "event_id",
        "height",
        F.col("`interp_12.0`").alias("t_12m"),
        F.col("`interp_20.0`").alias("t_20m"),
    )


ORACLE_HEIGHT_INTERP = """
WITH base AS (
  SELECT event_id, value / 10.0 AS t_low, value / 10.0 + 2.0 AS t_high FROM events
),
interp AS (
  SELECT event_id,
    t_low + (t_high - t_low) / (30.0 - 7.0) * (12.0 - 7.0) AS t_12m,
    t_low + (t_high - t_low) / (30.0 - 7.0) * (20.0 - 7.0) AS t_20m
  FROM base
)
SELECT event_id, CAST(h.height AS DOUBLE) AS height, t_12m, t_20m
FROM interp CROSS JOIN (VALUES (0.5), (7.0), (30.0)) AS h(height)
"""


def q_melt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: the pivot melted back to long (round-trip through unpivot)."""
    wide = q_pivot_daily(spark, sf_dir)
    long = reshape.melt_long(wide, ["day"], EVENT_TYPES, "event_type", "avg_value")
    return long.filter(F.col("avg_value").isNotNull())


ORACLE_MELT = """
SELECT date_trunc('day', ts) AS day, event_type,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Training-data operators: text analysis, dedup, similarity
# --------------------------------------------------------------------------

def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text.quality_scores(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "stopword_ratio",
        "punct_ratio",
        "digit_ratio",
        "upper_ratio",
    )


def q_doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused winnowing suite, two tagged branches over one staged
    fingerprint table:

    - ``fps``: the rolling-hash winnowing fingerprints (k=8 char grams,
      window=4) — explicitly portable (md5) so the DuckDB oracle
      reproduces the values; the package default is the numpy ``fast``
      mode (the 100 TB path);
    - ``contain``: MOSS-style pairwise overlap from shared fingerprints
      (``text.winnow_containment_pairs``) — shared count + containment.
    """
    docs = _t(spark, sf_dir, "documents")
    ns = F.lit(None).cast("string")
    nd = F.lit(None).cast("double")
    fps = dedup._stage(
        text.winnowing_fingerprints(
            docs, "doc_id", "text", k=8, window=4, hash_mode="portable"
        )
    )
    a = fps.select(
        F.lit("fps").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("fingerprint").cast("string").alias("val_s"),
        nd.alias("val_d"),
    )
    # This corpus's shared vocabulary gives a tiny gram space (6.6k distinct
    # fingerprints for 554k rows at sf0.1, median multiplicity 19), so the
    # MOSS common-fingerprint cap does the heavy pruning (max_bucket=50
    # drops boilerplate fps whose buckets go quadratic) and the containment
    # floor keeps substantive overlap only.
    c = (
        text.winnow_containment_pairs(
            fps, "doc_id", "fingerprint", max_bucket=50
        )
        .where(F.col("containment") >= 0.5)
        .select(
            F.lit("contain").alias("part"),
            F.concat(
                F.col("id_a").cast("string"),
                F.lit("#"),
                F.col("id_b").cast("string"),
            ).alias("key"),
            F.col("n_shared").cast("string").alias("val_s"),
            F.col("containment").alias("val_d"),
        )
    )
    return a.unionByName(c)


ORACLE_WINNOW = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s FROM documents
),
grams AS (
  SELECT doc_id, list_transform(
    generate_series(1, greatest(length(s) - 7, 1)),
    i -> ('0x' || substr(md5(substring(s, i, 8)), 1, 15))::BIGINT
  ) AS hs
  FROM norm
),
wins AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(hs) - 3, 1)),
    i -> list_min(hs[i:i+3])
  )) AS fps
  FROM grams
),
fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM wins),
fp_keep AS (
  SELECT doc_id, fingerprint FROM (
    SELECT doc_id, fingerprint, count(*) OVER (PARTITION BY fingerprint) AS m
    FROM fp
  ) WHERE m <= 50
),
fp_tot AS (SELECT doc_id, count(*) AS c FROM fp_keep GROUP BY 1),
fp_sh AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ns
  FROM fp_keep a JOIN fp_keep b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT 'fps' AS part, CAST(doc_id AS VARCHAR) AS key,
  CAST(fingerprint AS VARCHAR) AS val_s, CAST(NULL AS DOUBLE) AS val_d
FROM fp
UNION ALL
SELECT 'contain', ia||'#'||ib, CAST(ns AS VARCHAR),
  round(CAST(ns AS DOUBLE) / least(ta.c, tb.c), 6)
FROM fp_sh JOIN fp_tot ta ON ia = ta.doc_id JOIN fp_tot tb ON ib = tb.doc_id
WHERE round(CAST(ns AS DOUBLE) / least(ta.c, tb.c), 6) >= 0.5
"""


def q_doc_winnow_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy-vectorised winnowing kernel (Rabin-Karp polynomial + strided
    sliding min — the 100 TB path; values are a different hash family than
    the portable/oracle mode, so this runs in bench's extended section, not
    the registry)."""
    docs = _t(spark, sf_dir, "documents")
    return text.winnowing_fingerprints(
        docs, "doc_id", "text", k=8, window=4, hash_mode="fast"
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal standalone (fast Rabin-Karp mode — the
    100 TB path; the portable md5 twin is oracle-gated inside doc_profile's
    ss_* branch). Bench/scaling-curve entry, not in the 50-query registry."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.substring_dedup(docs, "doc_id", "text", mode="fast")


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs blocked by language."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", n=3, threshold=0.2)


ORACLE_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id, lang,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)),
      i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
    )) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) AS jaccard_sim
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)), 6) >= 0.2
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (xxhash64-based — no SQL oracle;
    driver records rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2)


def q_minhash_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH in portable hash mode (md5-derived seeds) — the fully
    SQL-oracle-checked variant of the pipeline; the 'fast' xxhash64 mode is
    what production/bench runs."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.2,
        hash_mode="portable",
    )


def _minhash_portable_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.2) -> str:
    rows_per_band = num_hashes // bands
    # Same universal-permutation family as the Spark side: one md5 per
    # shingle reduced mod p, then h_j = (a_j*x + b_j) mod p. Constants come
    # from the shared generator so the two sides cannot drift.
    p = dedup._MERSENNE_P
    perms = dedup._permutation_params(num_hashes)
    h = lambda j: (
        f"min((x * {perms[j][0]} + {perms[j][1]}) % {p}) AS h{j}"
    )
    sig_cols = ",\n    ".join(h(j) for j in range(num_hashes))
    band_selects = []
    for b in range(bands):
        cols = [f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        concat = "||':'||".join(cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band, ('0x'||substr(md5({concat}),1,15))::BIGINT AS bh FROM sig"
        )
    bands_sql = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
sh_arr AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(t) - 2, 1)),
    i -> array_to_string(list_slice(t, i, i + 2), ' ')
  )) AS s
  FROM toks
),
ex AS (SELECT doc_id, unnest(s) AS sh FROM sh_arr),
exh AS (
  SELECT doc_id, ('0x'||substr(md5(sh),1,15))::BIGINT % {p} AS x FROM ex
),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM exh GROUP BY doc_id
),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(list_distinct(sa.s || sb.s)), 6) AS jaccard_sim
  FROM cand
  JOIN sh_arr sa ON sa.doc_id = id_a
  JOIN sh_arr sb ON sb.doc_id = id_b
)
SELECT * FROM verified WHERE jaccard_sim >= {threshold}
"""


ORACLE_MINHASH_PORTABLE = _minhash_portable_oracle()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (fast numpy Arrow kernel — rows-only check)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=6)


def q_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in portable hash mode — SQL-oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=10, hash_mode="portable"
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


def _simhash_portable_oracle(max_hamming: int = 10, bands: int = 4) -> str:
    bit_sums = ",\n    ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << i}" for i in range(60)
    )
    width = 64 // bands
    band_rows = ", ".join(f"({b})" for b in range(bands))
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents
),
h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS hv FROM ex),
bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM bits),
bands AS (
  SELECT doc_id, simhash, v.b AS band, (simhash >> (v.b * {width})) & {(1 << width) - 1} AS key
  FROM fp, (VALUES {band_rows}) AS v(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS fa, b.simhash AS fb
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


ORACLE_SIMHASH_PORTABLE = _simhash_portable_oracle()


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 vectors as queries."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return similarity.cosine_topk(emb, queries, "vec_id", "embedding", "query_id", k=10)


ORACLE_ANN = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
    round(list_dot_product(e.embedding::DOUBLE[], q.qv)
      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, vec_id, cosine_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) <= 10
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN (hash-derived planes — rows-only check)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return similarity.ann_lsh_topk(
        emb, queries, dims=64, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=10, planes=4,
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused embedding-dedup suite, two tagged branches sharing one staged
    (vector, norm) base:

    - ``pairs``: cosine near-dup pairs within a label block (cos >= 0.3);
    - ``semdedup``: SemDeDup keep/drop per vector at cos >= 0.95 with the
      rounded centroid similarity (``similarity.semantic_dedup``).
    """
    from tern_ep_data_pipeline_spark.operators.dedup import _stage

    emb = _t(spark, sf_dir, "embeddings")
    ns = F.lit(None).cast("string")
    # one within-block self-join feeds both branches: the pair listing at
    # 0.3 and the SemDeDup drop set at 0.95 (staged — union branches get no
    # common-subplan reuse from Catalyst)
    raw_pairs = _stage(
        similarity.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", block_col="label", threshold=0.3
        )
    )
    pairs = raw_pairs.select(
        F.lit("pairs").alias("part"),
        F.concat(
            F.col("id_a").cast("string"), F.lit("#"), F.col("id_b").cast("string")
        ).alias("key"),
        ns.alias("val_s"),
        F.col("cosine_sim").alias("val_d"),
    )
    sem = similarity.semantic_dedup(
        emb, "vec_id", "embedding", cluster_col="label", threshold=0.95,
        pairs=raw_pairs,
    ).select(
        F.lit("semdedup").alias("part"),
        F.col("vec_id").cast("string").alias("key"),
        F.col("is_kept").cast("string").alias("val_s"),
        F.col("centroid_sim").alias("val_d"),
    )
    return pairs.unionByName(sem)


ORACLE_EMB_NEAR_DUP = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
),
dropped AS (SELECT DISTINCT id_b AS vec_id FROM sims WHERE cosine_sim >= 0.95),
ex AS (
  SELECT vec_id, label, u.dim, u.v FROM embeddings,
    LATERAL (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding::DOUBLE[]) AS v) u
),
-- order-independent centroid mean (twin of label_centroids): quantise each
-- component to an integer (1e9), sum exactly, divide once at the end
per_dim AS (SELECT label, dim,
  CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS mean_v
  FROM ex GROUP BY 1, 2),
cvec AS (SELECT label, list(mean_v ORDER BY dim) AS c FROM per_dim GROUP BY 1),
sem AS (
  SELECT e.vec_id,
    round(list_dot_product(e.v, cvec.c)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cvec.c, cvec.c))), 6)
      AS centroid_sim
  FROM e JOIN cvec USING (label)
)
SELECT 'pairs' AS part, id_a||'#'||id_b AS key, CAST(NULL AS VARCHAR) AS val_s,
  cosine_sim AS val_d
FROM sims WHERE cosine_sim >= 0.3
UNION ALL
SELECT 'semdedup', CAST(sem.vec_id AS VARCHAR),
  CAST(sem.vec_id NOT IN (SELECT vec_id FROM dropped) AS VARCHAR),
  sem.centroid_sim
FROM sem
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused IVF suite, two tagged branches:

    - ``topk``: rank label-list centroids, probe 2 lists, exact top-10
      within. Fully oracle-checked: probe selection ranks on the ROUNDED
      centroid similarity (ties by list id), so list choice is reproducible
      across engines despite order-sensitive float centroid sums.
    - ``members``: the deterministic coarse half of the IVF-PQ pipeline
      (``q_ivf_pq_rerank`` stays bench-only — PQ codebook float iteration is
      not SQL-reproducible): the full candidate membership set ADC would
      scan at the rerank pipeline's ``n_probe=3``. ``ivf_pq_topk`` calls the
      same ``ivf_probes`` code path, so a green row here verifies the
      selection the bench query actually runs.
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    topk = similarity.ivf_topk(emb, queries, k=10, n_probe=2, list_col="label")
    queries10 = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    members = similarity.ivf_probe_members(
        emb, queries10, n_probe=3, list_col="label"
    )
    a = topk.select(
        F.lit("topk").alias("part"),
        "query_id",
        "vec_id",
        F.lit(None).cast("bigint").alias("list_label"),
        "cosine_sim",
    )
    b = members.select(
        F.lit("members").alias("part"),
        "query_id",
        "vec_id",
        F.col("label").cast("bigint").alias("list_label"),
        F.lit(None).cast("double").alias("cosine_sim"),
    )
    return a.unionByName(b)


ORACLE_IVF_TOPK = """
WITH ex AS (
  SELECT label, u.dim, u.v FROM embeddings,
    LATERAL (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding::DOUBLE[]) AS v) u
),
cent AS (SELECT label, dim,
  CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS cv
  FROM ex GROUP BY 1, 2),
cvec AS (SELECT label, list(cv ORDER BY dim) AS c FROM cent GROUP BY 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
csim AS (
  SELECT q.query_id, cvec.label,
    round(list_dot_product(q.qv, cvec.c)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cvec.c, cvec.c))), 6) AS sim
  FROM q CROSS JOIN cvec
),
probes AS (
  SELECT query_id, label FROM csim
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, label ASC) <= 2
),
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT p.query_id, e.vec_id,
    round(list_dot_product(q.qv, e.v)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
  FROM probes p
  JOIN e ON e.label = p.label
  JOIN q ON q.query_id = p.query_id
  WHERE e.vec_id != p.query_id
)
SELECT query_id, vec_id, cosine_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) <= 10
"""


#: The members branch of the fused IVF suite (see ``q_ann_ivf_topk``).
ORACLE_IVF_PROBE_MEMBERS = """
WITH ex AS (
  SELECT label, u.dim, u.v FROM embeddings,
    LATERAL (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding::DOUBLE[]) AS v) u
),
cent AS (SELECT label, dim,
  CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS cv
  FROM ex GROUP BY 1, 2),
cvec AS (SELECT label, list(cv ORDER BY dim) AS c FROM cent GROUP BY 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
csim AS (
  SELECT q.query_id, cvec.label,
    round(list_dot_product(q.qv, cvec.c)
          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cvec.c, cvec.c))), 6) AS sim
  FROM q CROSS JOIN cvec
),
probes AS (
  SELECT query_id, label FROM csim
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, label ASC) <= 3
)
SELECT p.query_id, e.label, e.vec_id
FROM probes p JOIN embeddings e ON e.label = p.label
WHERE e.vec_id != p.query_id
"""


ORACLE_IVF_SUITE = f"""
SELECT 'topk' AS part, query_id, vec_id, CAST(NULL AS BIGINT) AS list_label, cosine_sim
FROM ({ORACLE_IVF_TOPK})
UNION ALL
SELECT 'members' AS part, query_id, vec_id, CAST(label AS BIGINT) AS list_label, CAST(NULL AS DOUBLE) AS cosine_sim
FROM ({ORACLE_IVF_PROBE_MEMBERS})
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year
    (double nation-dim join under different roles)."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 6, 4)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cust_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
    ).agg(F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"))


ORACLE_NATION_TRADE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def _ann_lsh_oracle(planes: int = 4, dims: int = 64, k: int = 10) -> str:
    from tern_ep_data_pipeline_spark.operators.similarity import _plane_signs

    bucket_terms = []
    for p in range(planes):
        signs = ", ".join(str(s) for s in _plane_signs(p, dims))
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(v, [{signs}]) >= 0 THEN 1 ELSE 0 END)::BIGINT * {1 << p}"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id,
    round(list_dot_product(b.v, q.qv)
      / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM b JOIN q ON b.bucket = q.bucket
  WHERE b.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) <= {k}
"""


ORACLE_ANN_LSH = _ann_lsh_oracle()


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + vector count (IVF coarse stats)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.label_centroids(emb, "label", "embedding")
    return cents.select(
        "label",
        F.round(similarity.norm(F.col("centroid")), 6).alias("centroid_norm"),
    ).join(
        emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors")), on="label"
    )


ORACLE_CENTROIDS = """
WITH ex AS (
  SELECT label, u.dim, u.v FROM embeddings,
    LATERAL (SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding::DOUBLE[]) AS v) u
),
per_dim AS (SELECT label, dim,
  CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / count(*) AS mean_v
  FROM ex GROUP BY 1, 2),
cvec AS (SELECT label, list(mean_v ORDER BY dim) AS c FROM per_dim GROUP BY 1),
norms AS (SELECT label, round(sqrt(list_dot_product(c, c)), 6) AS centroid_norm FROM cvec),
counts AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY 1)
SELECT norms.label, norms.centroid_norm, counts.n_vectors FROM norms JOIN counts USING (label)
"""


# --------------------------------------------------------------------------
# Span scans, run coalescing, reporting joins (S6/A8/O4, J6, TPC-H Q10 shape)
# --------------------------------------------------------------------------

def q_span_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A8: first/last timestamp + count per source, via cheap min/max aggs
    (replaces the reference's backwards byte-seek tail probe)."""
    ev = _t(spark, sf_dir, "events").select(F.lit("events").alias("source"), F.col("ts"))
    orders = _t(spark, sf_dir, "orders").select(
        F.lit("orders").alias("source"), F.col("o_orderdate").alias("ts")
    )
    return (
        ev.unionByName(orders)
        .groupBy("source")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )


ORACLE_SPAN = """
WITH u AS (
  SELECT 'events' AS source, ts FROM events
  UNION ALL
  SELECT 'orders' AS source, o_orderdate AS ts FROM orders
)
SELECT source, min(ts) AS first_ts, max(ts) AS last_ts, COUNT(*) AS n_records
FROM u GROUP BY source
"""


def q_priority_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 interval coalescing: consecutive same-priority orders per customer
    collapsed into (priority, start, end, n) runs (gaps-and-islands)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    return merge.coalesce_runs(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], "o_orderpriority"
    )


ORACLE_PRIORITY_RUNS = """
WITH base AS (SELECT * FROM orders WHERE o_custkey < 100),
marked AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
    CASE WHEN lag(o_orderpriority) OVER w IS NULL
           OR o_orderpriority <> lag(o_orderpriority) OVER w THEN 1 ELSE 0 END AS chg
  FROM base
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
)
SELECT o_custkey, o_orderpriority, min(o_orderdate) AS run_start,
  max(o_orderdate) AS run_end, COUNT(*) AS n_in_run
FROM runs GROUP BY o_custkey, run, o_orderpriority
"""


def q_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (beyond-reference temporal operator): each error
    event attributes to the latest same-user click within 2 h. Union +
    running-last window — one shuffle, no interval explosion
    (operators.temporal.asof_join)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = temporal.asof_join(
        errors,
        clicks,
        "ts",
        ["user_id"],
        ["value"],
        right_ts_out="click_ts",
        tolerance_seconds=7200,
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("error_ts"),
        "click_ts",
        F.col("value").alias("click_value"),
    )


ORACLE_ASOF_CLICK = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT e.event_id, e.user_id, e.ts AS error_ts,
  CASE WHEN date_diff('microsecond', c.ts, e.ts) <= 7200000000 THEN c.ts END AS click_ts,
  CASE WHEN date_diff('microsecond', c.ts, e.ts) <= 7200000000 THEN c.value END AS click_value
FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
"""


def q_asof_click_attribution_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened sliced as-of (operators.temporal.asof_join_sliced)
    on the same attribution task — identical oracle as the plain variant,
    proving the bounded-partition scale path end-to-end."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = temporal.asof_join_sliced(
        errors,
        clicks,
        "ts",
        ["user_id"],
        ["value"],
        slice_seconds=6 * 3600,
        right_ts_out="click_ts",
        tolerance_seconds=7200,
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("error_ts"),
        "click_ts",
        F.col("value").alias("click_value"),
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (beyond-reference): per-user activity sessions with a
    30-min inactivity gap via native ``session_window`` (batch/streaming
    identical; operators.temporal.sessionize). session_end = last event
    + gap; boundary-equal gaps merge."""
    ev = _t(spark, sf_dir, "events")
    return temporal.sessionize(
        ev,
        "ts",
        ["user_id"],
        30,
        [
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_value")
        ],
    )


ORACLE_USER_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events,
  CAST(round(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sid
"""


def q_clicks_in_error_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join (beyond-reference): sessionise
    error events into per-user incident windows (2 h gap), then join each
    click to the incident window containing it. Coarse-bucket equi-join +
    refine — no theta/nested-loop join (operators.temporal.range_join)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    incidents = temporal.sessionize(errors, "ts", ["user_id"], 120).select(
        "user_id", "session_start", "session_end"
    )
    out = temporal.range_join(
        clicks,
        incidents,
        "ts",
        "session_start",
        "session_end",
        key_cols=["user_id"],
        bucket_seconds=7200,
    )
    return out.select(
        "user_id",
        F.col("session_start").alias("incident_start"),
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )


ORACLE_CLICKS_IN_INCIDENTS = """
WITH err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 120 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM err WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
iv AS (
  SELECT user_id, MIN(ts) AS session_start,
    MAX(ts) + INTERVAL 120 MINUTE AS session_end
  FROM sess GROUP BY user_id, sid
)
SELECT c.user_id, iv.session_start AS incident_start,
  c.event_id AS click_event_id, c.ts AS click_ts
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
JOIN iv ON c.user_id = iv.user_id
  AND c.ts >= iv.session_start AND c.ts < iv.session_end
"""


def q_monthly_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade (beyond-reference): 30-min partials
    -> daily -> monthly, each level re-aggregating the previous level's
    (n, sum, min, max) partials — the raw stream is scanned exactly once
    (operators.rollup). Oracle computes the monthly level directly; equal
    results prove the cascade is lossless."""
    ev = _t(spark, sf_dir, "events")
    base = rollup.base_rollup(ev, "ts", ["event_type"], "value", minutes=30)
    daily = rollup.rollup_up(base, ["event_type"], "day")
    monthly = rollup.with_avg(rollup.rollup_up(daily, ["event_type"], "month"))
    return monthly.select(
        "event_type",
        F.col("bucket_start").alias("month_start"),
        "n",
        F.col("sum_v").cast("double").alias("sum_value"),
        F.col("min_v").cast("double").alias("min_value"),
        F.col("max_v").cast("double").alias("max_value"),
        F.col("avg_v").alias("avg_value"),
    )


ORACLE_MONTHLY_ROLLUP = """
SELECT event_type, date_trunc('month', ts) AS month_start, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
  CAST(MIN(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS min_value,
  CAST(MAX(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS max_value,
  round(CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
FROM events GROUP BY event_type, date_trunc('month', ts)
"""


def q_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping (beyond-reference; SURVEY §2.4 notes grouping sets are
    absent from the reference): lineitem quantity/revenue over all
    subsets of (returnflag, linestatus), exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


ORACLE_CUBE_RETURNS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_returned_revenue_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc = F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 6, 4)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_RETURNED_TOP = """
SELECT c_custkey, c_name, n_name,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct estimation, fully oracle-checked: the KMV
    (k-minimum-values) sketch over the portable md5 hash reproduces the
    SAME estimate — and its measured error vs the exact count — in any
    engine. Spark's native HLL++/approx_percentile remain the production
    >TB tools (exercised in pytest); they are engine-specific by design
    and cannot be hash-compared."""
    from tern_ep_data_pipeline_spark.operators.sketch import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, ["event_type"], "user_id", k=64)


ORACLE_APPROX_STATS = """
WITH h AS (
  SELECT DISTINCT event_type,
    ('0x'||substr(md5('kmv:'||user_id),1,15))::BIGINT AS hv
  FROM events WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, hv,
    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
agg AS (
  SELECT event_type,
    COUNT(*) AS exact_distinct,
    max(CASE WHEN rn = 64 THEN hv END) AS hk
  FROM ranked GROUP BY 1
),
est AS (
  SELECT event_type, exact_distinct,
    CASE WHEN hk IS NOT NULL
         THEN round(63.0 * 1152921504606846976.0 / hk, 4)
         ELSE CAST(exact_distinct AS DOUBLE) END AS kmv_estimate
  FROM agg
)
SELECT event_type, kmv_estimate, exact_distinct,
  round(abs(kmv_estimate - exact_distinct) / exact_distinct, 4) AS rel_error
FROM est
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per event type (analytics the reference
    computes ad hoc; exact here, approx_percentile is the >TB fallback)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


ORACLE_QUANTILES = """
SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.95), 6) AS p95,
  round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distinct-count scan across the lake (catalog cardinalities)."""
    ev = _t(spark, sf_dir, "events")
    part = _t(spark, sf_dir, "part")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
    ).crossJoin(
        part.agg(
            F.countDistinct("p_brand").alias("n_brands"),
            F.countDistinct("p_type").alias("n_types"),
        )
    )


ORACLE_DISTINCT_COUNTS = """
SELECT
  (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
  (SELECT COUNT(DISTINCT event_type) FROM events) AS n_event_types,
  (SELECT COUNT(DISTINCT p_brand) FROM part) AS n_brands,
  (SELECT COUNT(DISTINCT p_type) FROM part) AS n_types
"""


# --------------------------------------------------------------------------
# Profile (storage-flux) pipeline: J5 + R1 + A5 + W1 + A6 composite
# --------------------------------------------------------------------------

PROFILE_HEIGHTS = profile_plan.DEFAULT_HEIGHTS


def q_profile_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valve-multiplexed profile chain on events: map valve->height, pivot
    to (block x height), layer means, lag storage terms, null-propagating
    total (the reference CO2-profile pipeline end-to-end)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("ts"),
        (F.col("user_id") % 8).alias("valve"),
        (F.lit(300.0) + F.col("value")).alias("co2"),
    )
    return profile_plan.profile_storage(base, "ts", "valve", "co2", PROFILE_HEIGHTS, 30)


def _profile_oracle() -> str:
    hs = [float(h) for h in PROFILE_HEIGHTS]
    col = lambda h: f"co2_{str(h).replace('.', 'p')}"
    pivots = ",\n  ".join(
        f"CAST(SUM(CAST(co2 AS DECIMAL(18,2))) FILTER (WHERE valve = {i}) AS DOUBLE)"
        f" / COUNT(*) FILTER (WHERE valve = {i}) AS {col(h)}"
        for i, h in enumerate(hs)
    )
    layers, depths = [], []
    for i, h in enumerate(hs):
        if i == 0:
            layers.append(f"{col(h)} AS layer_0")
            depths.append(h)
        else:
            layers.append(f"({col(h)} + {col(hs[i - 1])}) / 2.0 AS layer_{i}")
            depths.append(h - hs[i - 1])
    layer_sql = ",\n  ".join(layers)
    storages = ",\n  ".join(
        f"(w.layer_{i} - p.layer_{i}) / 1800.0 * {depths[i]}"
        f" AS storage_{i}"
        for i in range(len(hs))
    )
    total = " + ".join(f"storage_{i}" for i in range(len(hs)))
    return f"""
WITH base AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS block_start,
         user_id % 8 AS valve, 300.0 + value AS co2
  FROM events
),
wide AS (
  SELECT block_start,
  {pivots}
  FROM base GROUP BY 1
),
layered AS (
  SELECT *,
  {layer_sql}
  FROM wide
),
stored AS (
  SELECT w.*,
  {storages}
  FROM layered w
  LEFT JOIN layered p
    ON p.block_start = w.block_start - INTERVAL '30 minutes'
)
SELECT *, {total} AS storage_total FROM stored
"""


ORACLE_PROFILE = _profile_oracle()


# --------------------------------------------------------------------------
# Fused driver-gate suites
#
# The round-1 driver verified exactly the FIRST 50 ``queries()`` entries (the
# 21 entries past position 50 got no CORRECTNESS row at all), so the registry
# is consolidated to <=50 entries. Same-shaped queries are fused — tagged
# UNIONs for results that share a schema, key-joins for per-key projections of
# the same table — so every operator still lands inside the driver's window
# with a full value-hash oracle. The underlying q_* functions are unchanged
# (bench.py and pytest still exercise them individually); COVERAGE.md maps
# operator -> registry entry.
# --------------------------------------------------------------------------


def q_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A11 + Q4: by-year priority counts UNION returned-order priority
    counts (tagged; returned rows carry a NULL order_year)."""
    a = q_order_priority_by_year(spark, sf_dir).select(
        F.lit("by_year").alias("tag"), "order_year", "o_orderpriority", "n_orders"
    )
    b = q_returned_order_priority(spark, sf_dir).select(
        F.lit("returned").alias("tag"),
        F.lit(None).cast("bigint").alias("order_year"),
        "o_orderpriority",
        "n_orders",
    )
    return a.unionByName(b)


ORACLE_ORDER_PRIORITIES = f"""
SELECT 'by_year' AS tag, * FROM ({ORACLE_PRIORITY_YEAR})
UNION ALL
SELECT 'returned' AS tag, CAST(NULL AS BIGINT) AS order_year, o_orderpriority, n_orders
FROM ({ORACLE_RETURNED_PRIORITY})
"""


def q_dedupe_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused P6 + P7: distinct-records, keep-latest-per-key, and
    duplicate-minute report as one tagged union over the events table."""
    null_ts = F.lit(None).cast("timestamp_ntz")
    a = q_dedupe_exact(spark, sf_dir).select(
        F.lit("distinct").alias("tag"),
        "user_id",
        "event_type",
        F.lit(None).cast("bigint").alias("event_id"),
        null_ts.alias("ts"),
        "value",
        F.lit(None).cast("bigint").alias("n_rows"),
    )
    b = q_dedupe_keep_latest(spark, sf_dir).select(
        F.lit("keep_latest").alias("tag"),
        "user_id",
        "event_type",
        "event_id",
        "ts",
        "value",
        F.lit(None).cast("bigint").alias("n_rows"),
    )
    c = q_duplicate_minute_report(spark, sf_dir).select(
        F.lit("dup_minute").alias("tag"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts_minute").alias("ts"),
        F.lit(None).cast("double").alias("value"),
        "n_rows",
    )
    return a.unionByName(b).unionByName(c)


ORACLE_DEDUPE_SUITE = f"""
SELECT 'distinct' AS tag, user_id, event_type, CAST(NULL AS BIGINT) AS event_id,
  CAST(NULL AS TIMESTAMP) AS ts, value, CAST(NULL AS BIGINT) AS n_rows
FROM ({ORACLE_DEDUPE_EXACT})
UNION ALL
SELECT 'keep_latest' AS tag, user_id, event_type, event_id, ts, value,
  CAST(NULL AS BIGINT) AS n_rows
FROM ({ORACLE_KEEP_LATEST})
UNION ALL
SELECT 'dup_minute' AS tag, user_id, CAST(NULL AS VARCHAR) AS event_type,
  CAST(NULL AS BIGINT) AS event_id, ts_minute AS ts,
  CAST(NULL AS DOUBLE) AS value, n_rows
FROM ({ORACLE_DUP_MINUTE})
"""


def q_cadence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A1 + A2: per-user interval inference joined with missing-record
    accounting — one row per user."""
    a = q_interval_mode(spark, sf_dir)
    b = q_missing_records(spark, sf_dir)
    return a.join(b, "user_id")


ORACLE_CADENCE = f"""
WITH a AS ({ORACLE_INTERVAL_MODE}), b AS ({ORACLE_MISSING})
SELECT a.user_id, a.min_delta_s, a.mode_delta_s, a.n_deltas,
  b.start_ts, b.end_ts, b.n_actual, b.n_expected, b.n_missing, b.pct_missing
FROM a JOIN b USING (user_id)
"""


def q_gap_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A3 + A9: gap bounds report UNION gap-size histogram (tagged).

    The expensive shared input — distinct timestamps + range-partitioned
    lag with boundary repair — is built ONCE and staged; both branches
    read it instead of each rebuilding the whole pipeline (15 -> 8
    exchanges, half the distinct/lag work)."""
    from tern_ep_data_pipeline_spark.operators.dedup import _stage

    ev = _t(spark, sf_dir, "events")
    lagged = _stage(gaps.lagged_timestamps(ev, "ts"))
    nb = F.lit(None).cast("bigint")
    nt = F.lit(None).cast("timestamp_ntz")
    a = gaps.gap_report_from_lagged(lagged, "ts", 600).select(
        F.lit("gap").alias("tag"), "gap_start", "gap_end", "gap_seconds",
        nb.alias("n_intervals"), nb.alias("n_gaps"),
    )
    b = gaps.gap_histogram_from_lagged(lagged, "ts", 300).select(
        F.lit("hist").alias("tag"), nt.alias("gap_start"), nt.alias("gap_end"),
        nb.alias("gap_seconds"), "n_intervals", "n_gaps",
    )
    return a.unionByName(b)


ORACLE_GAP_SUITE = f"""
SELECT 'gap' AS tag, gap_start, gap_end, gap_seconds,
  CAST(NULL AS BIGINT) AS n_intervals, CAST(NULL AS BIGINT) AS n_gaps
FROM ({ORACLE_GAP_REPORT})
UNION ALL
SELECT 'hist' AS tag, CAST(NULL AS TIMESTAMP) AS gap_start,
  CAST(NULL AS TIMESTAMP) AS gap_end, CAST(NULL AS BIGINT) AS gap_seconds,
  n_intervals, n_gaps
FROM ({ORACLE_GAP_HISTOGRAM})
"""


def q_unit_met_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused §2.8 function suite: all unit conversions, met derivations, and
    variance<->stdev round-trips in ONE projection over one events scan (the
    shape a real conditioning pass uses — Catalyst fuses it into a single
    WholeStageCodegen stage)."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    Ta = v / 10.0
    RH = F.least(F.greatest(v / 5.0, F.lit(0.1)), F.lit(100.0))
    ps = F.lit(95.0) + v / 100.0
    return ev.select(
        "event_id",
        # conversions (exact arithmetic)
        cv.convert_co2_flux(v).alias("co2_flux_umol"),
        cv.convert_co2_density(v).alias("co2_density_mg"),
        cv.convert_temperature(v).alias("temp_c"),
        cv.convert_pressure(v, "Pa").alias("press_kpa"),
        cv.convert_rh(v).alias("rh_pct"),
        cv.convert_sws(v).alias("sws_frac"),
        cv.convert_precipitation(v, 0.2).alias("precip_mm"),
        cv.convert_h2o_density(v, "mmol/m^3").alias("h2o_density_g"),
        cv.convert_variance_to_stdev(v).alias("stdev"),
        cv.convert_diagnostic(v, 18000).alias("diag_invalid"),
        # met derivations (rounded to 6)
        F.round(met.calculate_es(Ta), 6).alias("es_kpa"),
        F.round(met.calculate_e(Ta, RH), 6).alias("e_kpa"),
        F.round(met.calculate_VPD(Ta, RH), 6).alias("vpd_kpa"),
        F.round(met.calculate_dew_point(Ta, RH), 6).alias("dew_point_c"),
        F.round(met.calculate_AH_from_RH(Ta, RH, ps), 6).alias("ah_gm3"),
        F.round(met.calculate_molar_density(Ta, ps), 6).alias("molar_density"),
        # variance round-trips (rounded to 6; 'stdev' above is the raw one)
        F.round(cv.convert_variance_to_stdev(v), 6).alias("stdev_r6"),
        F.round(cv.convert_stdev_to_variance(cv.convert_variance_to_stdev(v)), 6).alias("roundtrip"),
        F.round(cv.convert_variance(v, cv.convert_co2_flux), 6).alias("variance_converted"),
    )


ORACLE_UNIT_MET = """
WITH base AS (
  SELECT event_id, value, value / 10.0 AS ta,
         least(greatest(value / 5.0, 0.1), 100.0) AS rh,
         95.0 + value / 100.0 AS ps
  FROM events
), es AS (
  SELECT *, 0.61121 * exp((18.678 - ta / 234.5) * (ta / (257.14 + ta))) AS es_v FROM base
), e AS (
  SELECT *, es_v * rh / 100.0 AS e_v FROM es
)
SELECT event_id,
  value * 1000.0 / 44.0 AS co2_flux_umol,
  value * 44.0 AS co2_density_mg,
  value - 273.15 AS temp_c,
  value / 1000.0 AS press_kpa,
  value * 100.0 AS rh_pct,
  value / 100.0 AS sws_frac,
  value * 0.2 AS precip_mm,
  value * 18.0 / 1000.0 AS h2o_density_g,
  sqrt(value) AS stdev,
  18000 - value AS diag_invalid,
  round(es_v, 6) AS es_kpa,
  round(e_v, 6) AS e_kpa,
  round(es_v - e_v, 6) AS vpd_kpa,
  round(243.5 * ln(e_v / 0.61121) / (17.502 - ln(e_v / 0.61121)), 6) AS dew_point_c,
  round(e_v / ps * (ps * 1000.0 / ((ta + 273.15) * 8.3143)) * 18.0, 6) AS ah_gm3,
  round(ps * 1000.0 / ((ta + 273.15) * 8.3143), 6) AS molar_density,
  round(sqrt(value), 6) AS stdev_r6,
  round(sqrt(value) * sqrt(value), 6) AS roundtrip,
  round((sqrt(value) * 1000.0 / 44.0) * (sqrt(value) * 1000.0 / 44.0), 6) AS variance_converted
FROM e
"""


def q_status_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A7 + W4: per-user last-valid stats joined with the trailing-24 h
    validity fraction."""
    a = q_last_valid_stats(spark, sf_dir)
    b = q_trailing_validity(spark, sf_dir).select("user_id", "trailing_valid_frac")
    return a.join(b, "user_id")


ORACLE_STATUS_SUITE = f"""
WITH a AS ({ORACLE_LAST_VALID}), b AS ({ORACLE_TRAILING})
SELECT a.*, b.trailing_valid_frac FROM a JOIN b USING (user_id)
"""


def q_calendar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused U1 + J9: overlapping-slice union-dedup daily counts UNION the
    expected-vs-available missing order days (tagged)."""
    a = q_union_dedup(spark, sf_dir).select(
        F.lit("union_daily").alias("tag"), "day", "n"
    )
    b = q_calendar_anti_join(spark, sf_dir).select(
        F.lit("missing_order_day").alias("tag"),
        F.col("missing_day").alias("day"),
        F.lit(None).cast("bigint").alias("n"),
    )
    return a.unionByName(b)


ORACLE_CALENDAR_DAYS = f"""
SELECT 'union_daily' AS tag, day, n FROM ({ORACLE_UNION_DEDUP})
UNION ALL
SELECT 'missing_order_day' AS tag, missing_day AS day, CAST(NULL AS BIGINT) AS n
FROM ({ORACLE_CALENDAR_ANTI})
"""


def q_pivot_melt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 + R2 in one entry: the daily pivot melted back to long form —
    verifying both directions against the direct groupBy oracle."""
    return q_melt_daily(spark, sf_dir)


def q_doc_profile_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half A of the per-document text-analysis suite — the branches that
    were green for rounds 3-5 (token stats, quality scores, language ID,
    fingerprint, BPE-ish counts, chunk dedup, exact-dup groups), one row per
    document, joined on doc_id (dup stats via the content hash).

    Round-7 gate contract: **integer/md5 only** — every former DOUBLE ratio
    is now an exact micro-unit BIGINT (``round_half_away(1e6*n/d)`` computed
    wholly in integral arithmetic on BOTH engines; see
    ``text.micro_ratio``), so the driver's value hash is immune to any
    engine's float formatting/rounding/libm variance. Split from the former
    12-branch ``doc_profile`` to bisect its two-round driver-only hash red
    (VERDICT r6 #1): half A = three-rounds-green branches, half B = the
    r5/r6 additions."""
    # branches scan the same two columns; stage the projection once so the
    # parquet decode happens once, not per branch (released by bench)
    docs = dedup._stage(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # the five row-local operators (token stats, quality ratios, lang ID,
    # fingerprint, BPE counts) stack into ONE map-only projection via their
    # SQL builders — zero joins where the r6 fused suite had five, and one
    # selectExpr parse instead of ~1100 py4j round trips
    row = docs.selectExpr(
        "doc_id",
        *text.token_stat_sqls("text", micro=True),
        *text.quality_ratio_sqls("text", micro=True),
        *text.lang_id_sqls("text", "bigint"),
        *text.fingerprint_sqls("text"),
        *text.bpe_stat_sqls("text", micro=True),
    )
    d = dedup.exact_dedup_groups(docs, "doc_id", "text")
    ch = dedup.chunk_dedup_stats(docs, "doc_id", "text", chunk_tokens=10, micro=True)
    return (
        row.join(ch, "doc_id")
        .join(d, row.fingerprint_md5 == d.content_hash)
        .select(
            "doc_id", "n_chars", "n_tokens", "avg_token_len_micro",
            "stopword_ratio_micro", "punct_ratio_micro", "digit_ratio_micro",
            "upper_ratio_micro",
            *[f"n_{lang}" for lang in text.LANG_MARKERS], "pred_lang",
            "fingerprint_md5", "n_ws_tokens", "n_bpe_tokens",
            "chars_per_bpe_micro",
            "n_chunks", "n_dup_chunks", "dup_chunk_frac_micro", "kept_tokens",
            "canonical_id", "n_copies",
        )
    )


def q_doc_profile_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half B of the per-document suite — the r5/r6-added branches whose
    driver row went red (unigram log-prob, quality-model features, line
    dedup exact + normalised, ExactSubstr span dedup), integer/md5-only
    contract like half A.

    The ``qf_*`` columns are ``quality_model.heuristic_feature_frame`` run
    as the MODEL pipeline runs it — the deterministic input surface of the
    (bench-only) ``q_quality_filter``.

    The ``ldn_*`` columns gate line dedup's ``normalise=True`` mode
    (``ccnet_normalise``): a per-doc trailer line ``Page <lpad(id)> of 912``
    is UNIQUE under trim-exact matching but collapses to ``page 0000 of
    000`` under digit->0 normalisation, so the branch passes only if the
    normalised key (not the exact one) drives the removal.

    The oracle side additionally carries a CANARY tail (zero rows when the
    driver's DuckDB agrees with the pinned construct semantics): canary k
    emits 2^k rows on disagreement, so a driver-side engine drift flips
    ``rows_match`` with a row-count delta that identifies the exact
    construct set — a named signal instead of a silent hash flip."""
    from tern_ep_data_pipeline_spark.operators import quality_model as qm

    docs = dedup._stage(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # shuffle_hash: the frame's size estimate is opaque after the token
    # explode+join, so Spark would otherwise fall back to sort-merge
    u = text.unigram_logprob(docs, "doc_id", "text", micro=True).select(
        "doc_id", "avg_logprob_micro"
    ).hint("shuffle_hash")
    hf = qm.heuristic_feature_frame(docs, "doc_id", "text", micro=True).select(
        "doc_id",
        F.col("stopword_ratio_micro").alias("qf_stopword_ratio_micro"),
        F.col("punct_ratio_micro").alias("qf_punct_ratio_micro"),
        F.col("digit_ratio_micro").alias("qf_digit_ratio_micro"),
        F.col("upper_ratio_micro").alias("qf_upper_ratio_micro"),
        F.col("n_tokens").alias("qf_n_tokens"),
        F.col("avg_token_len_micro").alias("qf_avg_token_len_micro"),
    ).hint("shuffle_hash")
    # ld_*: CCNet-style line dedup over a deterministic multi-line view
    # (the generator writes single-line docs, so ' a ' -> newline makes
    # segments that genuinely repeat across documents)
    ml = docs.select(
        "doc_id", F.regexp_replace("text", " a ", "\n").alias("text")
    )
    ld = dedup.line_dedup_frame(ml, "doc_id", "text", min_docs=2).select(
        "doc_id",
        F.md5("clean_text").alias("ld_clean_md5"),
        F.col("n_lines").cast("bigint").alias("ld_n_lines"),
        F.col("n_removed_lines").cast("bigint").alias("ld_n_removed"),
    ).hint("shuffle_hash")
    # ldn_*: the normalised mode, over the multi-line view plus a per-doc
    # digit-bearing trailer line (unique exact, boilerplate normalised)
    mln = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " a ", "\n"),
            F.lit("\nPage "),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" of 912"),
        ).alias("text"),
    )
    ldn = dedup.line_dedup_frame(
        mln, "doc_id", "text", min_docs=2, normalise=True
    ).select(
        "doc_id",
        F.md5("clean_text").alias("ldn_clean_md5"),
        F.col("n_removed_lines").cast("bigint").alias("ldn_n_removed"),
    ).hint("shuffle_hash")
    # ss_*: ExactSubstr-style duplicated-span removal (first occurrence of
    # any duplicated 8-token span kept, every other occurrence removed)
    ss = dedup.substring_dedup(docs, "doc_id", "text", min_tokens=8).select(
        "doc_id",
        F.md5("clean_text").alias("ss_clean_md5"),
        F.col("n_removed_tokens").cast("bigint").alias("ss_n_removed"),
        F.col("n_dup_spans").cast("bigint").alias("ss_n_spans"),
    ).hint("shuffle_hash")
    return (
        u.join(hf, "doc_id")
        .join(ld, "doc_id")
        .join(ldn, "doc_id")
        .join(ss, "doc_id")
        .select(
            "doc_id", "avg_logprob_micro",
            "qf_stopword_ratio_micro", "qf_punct_ratio_micro",
            "qf_digit_ratio_micro", "qf_upper_ratio_micro",
            "qf_n_tokens", "qf_avg_token_len_micro",
            "ld_clean_md5", "ld_n_lines", "ld_n_removed",
            "ldn_clean_md5", "ldn_n_removed",
            "ss_clean_md5", "ss_n_removed", "ss_n_spans",
        )
    )


def _micro_sql(n: str, d: str, else_sql: str = "CAST(0 AS BIGINT)") -> str:
    """DuckDB twin of ``text.micro_ratio``: ``round_half_away(1e6*n/d)`` as
    BIGINT via integer-only arithmetic (``//`` = integral divide on positive
    operands) — no double division, no ``round(double)``, no libm, so the
    value is bit-identical to Spark's on any engine build."""
    return (
        f"CASE WHEN CAST({d} AS BIGINT) > 0 THEN "
        f"(2000000 * CAST({n} AS BIGINT) + CAST({d} AS BIGINT)) "
        f"// (2 * CAST({d} AS BIGINT)) ELSE {else_sql} END"
    )


_NT = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split(trim(text), ' ')) END"
_NSTOP = (
    "len(list_filter(string_split(trim(text), ' '), "
    "x -> x IN ('the','a','an','and','or','of','to','in','is','it')))"
)

#: Half-A branch t: token stats with the integer micro contract. The
#: generator writes single-space-separated text (no tabs/newlines/multi
#: space — asserted by the ws_shape canary in half B), so plain
#: ``string_split(trim(text), ' ')`` replaces the version-sensitive
#: ``string_split_regex`` and ``replace(trim(text), ' ', '')`` replaces the
#: regex whitespace strip.
ORACLE_TOKEN_STATS_MICRO = f"""
WITH tm AS (
  SELECT doc_id, length(text) AS nc, {_NT} AS nt,
    length(replace(trim(text), ' ', '')) AS nw
  FROM documents
)
SELECT doc_id, CAST(nc AS BIGINT) AS n_chars, CAST(nt AS BIGINT) AS n_tokens,
  {_micro_sql('nw', 'nt', 'CAST(NULL AS BIGINT)')} AS avg_token_len_micro
FROM tm
"""

#: Half-A branch q: quality ratios in micro units. ``translate`` deletion
#: replaces the regex char-class counts (one less engine-variant construct).
ORACLE_QUALITY_MICRO = f"""
WITH qm_t AS (
  SELECT doc_id, length(text) AS nc, {_NT} AS nt, {_NSTOP} AS nstop,
    length(text) - length(translate(text, '.,;:!?''"()', '')) AS npunct,
    length(text) - length(translate(text, '0123456789', '')) AS ndigit,
    length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '')) AS nupper
  FROM documents
)
SELECT doc_id,
  {_micro_sql('nstop', 'nt')} AS stopword_ratio_micro,
  {_micro_sql('npunct', 'nc')} AS punct_ratio_micro,
  {_micro_sql('ndigit', 'nc')} AS digit_ratio_micro,
  {_micro_sql('nupper', 'nc')} AS upper_ratio_micro
FROM qm_t
"""


def _lang_count_sql_plain(words: tuple) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_filter(string_split(trim(text), ' '), "
        f"x -> x IN ({lst}))) AS BIGINT)"
    )


ORACLE_LANG_ID_PLAIN = f"""
WITH lc AS (
  SELECT doc_id,
    {_lang_count_sql_plain(text.LANG_MARKERS['en'])} AS n_en,
    {_lang_count_sql_plain(text.LANG_MARKERS['de'])} AS n_de,
    {_lang_count_sql_plain(text.LANG_MARKERS['fr'])} AS n_fr,
    {_lang_count_sql_plain(text.LANG_MARKERS['es'])} AS n_es,
    {_lang_count_sql_plain(text.LANG_MARKERS['zh'])} AS n_zh
  FROM documents
)
SELECT doc_id, n_en, n_de, n_fr, n_es, n_zh,
  CASE WHEN greatest(n_en, n_de, n_fr, n_es, n_zh) = 0 THEN 'und'
       WHEN n_en = greatest(n_en, n_de, n_fr, n_es, n_zh) THEN 'en'
       WHEN n_de = greatest(n_en, n_de, n_fr, n_es, n_zh) THEN 'de'
       WHEN n_fr = greatest(n_en, n_de, n_fr, n_es, n_zh) THEN 'fr'
       WHEN n_es = greatest(n_en, n_de, n_fr, n_es, n_zh) THEN 'es'
       ELSE 'zh' END AS pred_lang
FROM lc
"""

#: The normalisation regexp collapse is a no-op on single-space text, so
#: the fingerprint reduces to md5(lower(trim(text))) — guarded by ws_shape.
ORACLE_FINGERPRINT_PLAIN = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint_md5 FROM documents
"""

ORACLE_EXACT_DEDUP_PLAIN = """
SELECT md5(lower(trim(text))) AS content_hash,
  min(doc_id) AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""

#: Half-A branch b: the BPE pretokenise count keeps its regex (that IS the
#: operator) — its engine agreement is pinned by the regex canary.
ORACLE_BPE_MICRO = f"""
WITH bm AS (
  SELECT doc_id, {_NT} AS n_ws,
    len(regexp_extract_all(text, '''[sdmt]|''ll|''re|''ve| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+')) AS n_bpe,
    length(text) AS nc
  FROM documents
)
SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens,
  CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
  {_micro_sql('nc', 'n_bpe')} AS chars_per_bpe_micro
FROM bm
"""

#: Half-A branch ch: chunk dedup without list slicing — grams are built by
#: explicit 1-based indexing over a LATERAL position series, the integer
#: chunk count replaces the float ceil.
ORACLE_CHUNK_MICRO = f"""
WITH ch_t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
ch AS (
  SELECT doc_id, u.i AS pos,
    array_to_string(list_transform(
      generate_series(u.i*10+1, least((u.i+1)*10, len(t))), j -> t[j]), ' ') AS chunk,
    least(10, len(t) - u.i*10) AS ctoks,
    doc_id * 1000000 + u.i AS occ_key
  FROM ch_t, LATERAL unnest(generate_series(0, greatest((len(t)+9)//10, 1) - 1)) AS u(i)
),
firsts AS (SELECT chunk, min(occ_key) AS first_key FROM ch GROUP BY 1)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN occ_key <> first_key THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  {_micro_sql('sum(CASE WHEN occ_key <> first_key THEN 1 ELSE 0 END)', 'count(*)')} AS dup_chunk_frac_micro,
  CAST(sum(CASE WHEN occ_key = first_key THEN ctoks ELSE 0 END) AS BIGINT) AS kept_tokens
FROM ch JOIN firsts USING (chunk)
GROUP BY 1
"""


_ORACLE_DOC_PROFILE_A_BASE = f"""
WITH t AS ({ORACLE_TOKEN_STATS_MICRO}), q AS ({ORACLE_QUALITY_MICRO}),
l AS ({ORACLE_LANG_ID_PLAIN}), fp AS ({ORACLE_FINGERPRINT_PLAIN}),
b AS ({ORACLE_BPE_MICRO}), ch AS ({ORACLE_CHUNK_MICRO}),
d AS ({ORACLE_EXACT_DEDUP_PLAIN})
SELECT t.doc_id, t.n_chars, t.n_tokens, t.avg_token_len_micro,
  q.stopword_ratio_micro, q.punct_ratio_micro, q.digit_ratio_micro,
  q.upper_ratio_micro,
  l.n_en, l.n_de, l.n_fr, l.n_es, l.n_zh, l.pred_lang,
  fp.fingerprint_md5, b.n_ws_tokens, b.n_bpe_tokens, b.chars_per_bpe_micro,
  ch.n_chunks, ch.n_dup_chunks, ch.dup_chunk_frac_micro, ch.kept_tokens,
  d.canonical_id, d.n_copies
FROM t
JOIN q USING (doc_id)
JOIN l USING (doc_id)
JOIN fp USING (doc_id)
JOIN b USING (doc_id)
JOIN ch USING (doc_id)
JOIN d ON fp.fingerprint_md5 = d.content_hash
"""


#: Half-B branch u: the unigram log-prob twin — per-token picolog BIGINT
#: quantisation (the ln+round there is the only float step, margin-verified
#: 10x safe and pinned by the ln_round canary), HUGEINT exact sum, and an
#: integral half-away division to micro units. No DOUBLE in the output.
ORACLE_UNIGRAM_MICRO = r"""
WITH uni_tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
),
uni_vocab AS (SELECT tok, count(*) AS c FROM uni_tok GROUP BY 1),
uni_tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS tot_n, count(*) AS tot_v FROM uni_vocab
),
uni_sum AS (
  SELECT doc_id,
    CAST(sum(CAST(round(ln((c + 0.5) / (tot_n + 0.5 * (tot_v + 1))) * 1e12)
             AS BIGINT)) AS HUGEINT) AS s,
    CAST(count(*) AS HUGEINT) * 1000000 AS dd
  FROM uni_tok JOIN uni_vocab USING (tok), uni_tot
  GROUP BY doc_id
)
SELECT doc_id,
  CAST(CASE WHEN s >= 0 THEN (2*s + dd) // (2*dd)
       ELSE -((2*(-s) + dd) // (2*dd)) END AS BIGINT) AS avg_logprob_micro
FROM uni_sum
"""

ORACLE_QF_MICRO = f"""
WITH qfm AS (
  SELECT doc_id, length(text) AS nc, {_NT} AS nt, {_NSTOP} AS nstop,
    length(text) - length(translate(text, '.,;:!?''"()', '')) AS npunct,
    length(text) - length(translate(text, '0123456789', '')) AS ndigit,
    length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '')) AS nupper,
    length(replace(trim(text), ' ', '')) AS nw
  FROM documents
)
SELECT doc_id,
  {_micro_sql('nstop', 'nt')} AS qf_stopword_ratio_micro,
  {_micro_sql('npunct', 'nc')} AS qf_punct_ratio_micro,
  {_micro_sql('ndigit', 'nc')} AS qf_digit_ratio_micro,
  {_micro_sql('nupper', 'nc')} AS qf_upper_ratio_micro,
  CAST(nt AS BIGINT) AS qf_n_tokens,
  {_micro_sql('nw', 'nt', 'CAST(NULL AS BIGINT)')} AS qf_avg_token_len_micro
FROM qfm
"""

#: CCNet-style line dedup on the ' a ' -> newline multi-line view: a
#: trimmed line in >= 2 distinct docs is boilerplate and removed everywhere.
#: Tokenisation via LATERAL position series (no struct_pack/unnest-of-list).
ORACLE_LINE_DEDUP_MICRO = """
WITH ld_p AS (
  SELECT doc_id, string_split(replace(text, ' a ', chr(10)), chr(10)) AS parts
  FROM documents
),
ld_l AS (
  SELECT doc_id, u.i AS pos, parts[u.i] AS line, trim(parts[u.i]) AS tl
  FROM ld_p, LATERAL unnest(generate_series(1, len(parts))) AS u(i)
),
ld_c AS (
  SELECT md5(tl) AS h FROM ld_l WHERE length(tl) >= 1
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
ld_f AS (
  SELECT l.doc_id, l.pos, l.line,
         (c.h IS NOT NULL AND length(l.tl) >= 1) AS rm
  FROM ld_l l LEFT JOIN ld_c c ON md5(l.tl) = c.h
)
SELECT doc_id,
  md5(coalesce(
    string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT rm), ''
  )) AS ld_clean_md5,
  CAST(count(*) AS BIGINT) AS ld_n_lines,
  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS ld_n_removed
FROM ld_f GROUP BY doc_id
"""

#: The normalise=True twin: the dedup key is ccnet_normalise (lowercase,
#: digit->0, whitespace collapse) instead of the trimmed line, over the
#: multi-line view plus a per-doc trailer line that is unique exact but
#: boilerplate normalised.
ORACLE_LINE_DEDUP_NORM_MICRO = r"""
WITH ldn_p AS (
  SELECT doc_id,
         string_split(
           replace(text, ' a ', chr(10)) || chr(10) || 'Page ' ||
           lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' of 912',
           chr(10)) AS parts
  FROM documents
),
ldn_l AS (
  SELECT doc_id, u.i AS pos, parts[u.i] AS line, trim(parts[u.i]) AS tl,
         regexp_replace(translate(lower(trim(parts[u.i])), '0123456789',
                                  '0000000000'), '\s+', ' ', 'g') AS nk
  FROM ldn_p, LATERAL unnest(generate_series(1, len(parts))) AS u(i)
),
ldn_c AS (
  SELECT md5(nk) AS h FROM ldn_l WHERE length(tl) >= 1
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
ldn_f AS (
  SELECT l.doc_id, l.pos, l.line,
         (c.h IS NOT NULL AND length(l.tl) >= 1) AS rm
  FROM ldn_l l LEFT JOIN ldn_c c ON md5(l.nk) = c.h
)
SELECT doc_id,
  md5(coalesce(
    string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT rm), ''
  )) AS ldn_clean_md5,
  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS ldn_n_removed
FROM ldn_f GROUP BY doc_id
"""

#: ExactSubstr duplicated-span removal, the SQL twin of
#: dedup.substring_dedup(min_tokens=8): global-first occurrence of each
#: 8-token gram kept, every other start marks its span, per-token coverage
#: via a bounded row window, spans = covered runs. Grams by explicit
#: indexing (no list slicing).
ORACLE_SUBSTR_MICRO = """
WITH ss_t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
ss_tok AS (
  SELECT doc_id, u.i AS pos, t[u.i] AS tok
  FROM ss_t, LATERAL unnest(generate_series(1, len(t))) AS u(i)
),
ss_g AS (
  SELECT doc_id, u.i AS pos,
    md5(array_to_string(list_transform(generate_series(u.i, u.i+7), j -> t[j]), ' ')) AS g,
    doc_id * 16777216 + u.i AS k
  FROM ss_t, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
),
ss_first AS (SELECT g, min(k) AS fk FROM ss_g GROUP BY 1),
ss_dup AS (
  SELECT doc_id, pos FROM ss_g JOIN ss_first USING (g) WHERE k <> fk
),
ss_cov AS (
  SELECT l.doc_id, l.pos AS pos, l.tok AS tok,
    max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY l.doc_id ORDER BY l.pos
            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 1 AS cov
  FROM ss_tok l LEFT JOIN ss_dup d ON d.doc_id = l.doc_id AND d.pos = l.pos
),
ss_sp AS (
  SELECT doc_id, pos, tok, cov,
    cov AND NOT coalesce(
      lag(cov) OVER (PARTITION BY doc_id ORDER BY pos), false) AS sp
  FROM ss_cov
)
SELECT doc_id,
  md5(coalesce(
    string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT cov), ''
  )) AS ss_clean_md5,
  CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS ss_n_removed,
  CAST(sum(CASE WHEN sp THEN 1 ELSE 0 END) AS BIGINT) AS ss_n_spans
FROM ss_sp GROUP BY doc_id
"""


#: Driver-environment canaries (half B oracle tail). Each row source is
#: empty when the driver's DuckDB agrees with the pinned semantics of one
#: construct family used by the doc-profile oracles; on disagreement canary
#: k contributes exactly 2**k rows, so `oracle_rows - 500` read off
#: CORRECTNESS names the drifting construct set — an engineered, named
#: signal through the driver's own rows_match channel (VERDICT r6 #3)
#: instead of a silent hash flip. Expected literals verified against local
#: DuckDB by tests/test_oracle_selftest.py.
_CANARIES: list[tuple[str, str, str]] = [
    ("split",
     "array_to_string(string_split('a b c', ' '), '|') || '#' || "
     "CAST(len(string_split('', ' ')) AS VARCHAR)",
     "'a|b|c#1'"),
    ("ws_shape",
     "(SELECT count(*) FROM documents WHERE text LIKE '%  %' "
     "OR text LIKE ' %' OR text LIKE '% ' "
     "OR contains(text, chr(9)) OR contains(text, chr(10)))",
     "0"),
    ("lateral_idx",
     "(SELECT CAST(sum(t[u.i] * u.i) AS VARCHAR) FROM (SELECT [10,20,30] AS t) v, "
     "LATERAL unnest(generate_series(1, len(t))) AS u(i))",
     "'140'"),
    ("transform",
     "array_to_string(list_transform(generate_series(2, 4), j -> j*j), ',')",
     "'4,9,16'"),
    ("translate_del",
     "translate('A1b,C?2', '0123456789', '') || '#' || "
     "CAST(length('a.b!c') - length(translate('a.b!c', '.,;:!?''\"()', '')) AS VARCHAR)",
     "'Ab,C?#2'"),
    ("ln_round",
     "CAST(CAST(round(ln(2.0)*1e12) AS BIGINT) AS VARCHAR) || '#' || "
     "CAST(CAST(round(ln(10.0)*1e12) AS BIGINT) AS VARCHAR)",
     "'693147180560#2302585092994'"),
    ("intdiv",
     "CAST((2000000 * CAST(7 AS BIGINT) + 3) // (2 * 3) AS VARCHAR) || '#' || "
     "CAST(-((2 * CAST(2500000 AS HUGEINT) + 1000000) // (2 * CAST(1000000 AS HUGEINT))) AS VARCHAR)",
     "'2333333#-3'"),
    ("md5",
     "md5('') || '#' || md5('abc')",
     "'d41d8cd98f00b204e9800998ecf8427e#900150983cd24fb0d6963f7d28e17f72'"),
    ("window_agg",
     "(SELECT string_agg(CAST(m AS VARCHAR), ',' ORDER BY pos) FROM "
     "(SELECT pos, max(v) OVER (ORDER BY pos ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m "
     "FROM (VALUES (1,0),(2,1),(3,0)) t(pos,v)))",
     "'0,1,1'"),
    ("regex",
     r"array_to_string(string_split_regex('a  b' || chr(9) || 'c', '\s+'), '|')"
     " || '#' || "
     r"CAST(len(regexp_extract_all('it''s 42 ok.', '''[sdmt]|''ll|''re|''ve| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS VARCHAR)"
     " || '#' || "
     r"regexp_replace('a ' || chr(9) || ' b', '\s+', ' ', 'g')",
     "'a|b|c#5#a b'"),
    # ---- round 8: the a-half's remaining construct families (VERDICT r7
    # #8) — the lambda IN-list count behind _NSTOP and the language
    # markers, the greatest/CASE tie-break behind pred_lang, the chunk
    # grid's least/greatest integer ceil, and the lpad in the ldn trailer.
    ("list_filter_in",
     "CAST(len(list_filter(string_split('the cat and le chien', ' '), "
     "x -> x IN ('the','and'))) AS VARCHAR) || '#' || "
     "CAST(len(list_filter(string_split('', ' '), x -> x IN ('a'))) AS VARCHAR)",
     "'2#0'"),
    ("greatest_case",
     "CAST(greatest(2, 5, 5) AS VARCHAR) || '#' || lower('AbC') || '#' || "
     "(CASE WHEN 0 = greatest(0, 0) THEN 'und' ELSE 'x' END)",
     "'5#abc#und'"),
    ("chunk_intmath",
     "CAST(least(10, 23 - 2*10) AS VARCHAR) || '#' || "
     "CAST(greatest((23+9)//10, 1) AS VARCHAR) || '#' || "
     "CAST(greatest((0+9)//10, 1) AS VARCHAR)",
     "'3#3#1'"),
    ("lpad",
     "lpad(CAST(7 AS VARCHAR), 4, '0') || '#' || lpad('abc', 2, '0')",
     "'0007#ab'"),
]

#: Null cells for a canary row, in ORACLE_DOC_PROFILE_B column order (the
#: canary name rides in ld_clean_md5 for local debuggability).
_CANARY_ROW_COLS = (
    "CAST(NULL AS BIGINT) AS avg_logprob_micro, "
    "CAST(NULL AS BIGINT) AS qf_stopword_ratio_micro, "
    "CAST(NULL AS BIGINT) AS qf_punct_ratio_micro, "
    "CAST(NULL AS BIGINT) AS qf_digit_ratio_micro, "
    "CAST(NULL AS BIGINT) AS qf_upper_ratio_micro, "
    "CAST(NULL AS BIGINT) AS qf_n_tokens, "
    "CAST(NULL AS BIGINT) AS qf_avg_token_len_micro, "
    "{name} AS ld_clean_md5, "
    "CAST(NULL AS BIGINT) AS ld_n_lines, "
    "CAST(NULL AS BIGINT) AS ld_n_removed, "
    "CAST(NULL AS VARCHAR) AS ldn_clean_md5, "
    "CAST(NULL AS BIGINT) AS ldn_n_removed, "
    "CAST(NULL AS VARCHAR) AS ss_clean_md5, "
    "CAST(NULL AS BIGINT) AS ss_n_removed, "
    "CAST(NULL AS BIGINT) AS ss_n_spans"
)


def _canary_sql(k: int, name: str, expr: str, expected: str) -> str:
    cols = _CANARY_ROW_COLS.format(name=f"'canary:{name}'")
    return (
        f"SELECT CAST({-1001 - k} AS BIGINT) AS doc_id, {cols} "
        f"FROM range({2 ** k}) "
        f"WHERE NOT (({expr}) IS NOT DISTINCT FROM ({expected}))"
    )


ORACLE_DOC_PROFILE_B = (
    f"""
WITH uni AS ({ORACLE_UNIGRAM_MICRO}), qf AS ({ORACLE_QF_MICRO}),
ld AS ({ORACLE_LINE_DEDUP_MICRO}), ldn AS ({ORACLE_LINE_DEDUP_NORM_MICRO}),
ss AS ({ORACLE_SUBSTR_MICRO})
SELECT uni.doc_id, uni.avg_logprob_micro,
  qf.qf_stopword_ratio_micro, qf.qf_punct_ratio_micro,
  qf.qf_digit_ratio_micro, qf.qf_upper_ratio_micro,
  qf.qf_n_tokens, qf.qf_avg_token_len_micro,
  ld.ld_clean_md5, ld.ld_n_lines, ld.ld_n_removed,
  ldn.ldn_clean_md5, ldn.ldn_n_removed,
  ss.ss_clean_md5, ss.ss_n_removed, ss.ss_n_spans
FROM uni
JOIN qf USING (doc_id)
JOIN ld USING (doc_id)
JOIN ldn USING (doc_id)
JOIN ss USING (doc_id)
"""
    + "".join(
        "\nUNION ALL\n" + _canary_sql(k, name, expr, expected)
        for k, (name, expr, expected) in enumerate(_CANARIES)
    )
)

#: Null cells for an a-half canary row, in ORACLE_DOC_PROFILE_A column
#: order (the canary name rides in fingerprint_md5). Round 8 (VERDICT r7
#: #8): the 2**k drift canary previously protected only the b-half; the
#: a-half's constructs (translate counts, string_split, list_filter IN,
#: chunk int math, ...) now carry the same engineered rows_match signal.
_CANARY_ROW_COLS_A = (
    "CAST(NULL AS BIGINT) AS n_chars, "
    "CAST(NULL AS BIGINT) AS n_tokens, "
    "CAST(NULL AS BIGINT) AS avg_token_len_micro, "
    "CAST(NULL AS BIGINT) AS stopword_ratio_micro, "
    "CAST(NULL AS BIGINT) AS punct_ratio_micro, "
    "CAST(NULL AS BIGINT) AS digit_ratio_micro, "
    "CAST(NULL AS BIGINT) AS upper_ratio_micro, "
    "CAST(NULL AS BIGINT) AS n_en, "
    "CAST(NULL AS BIGINT) AS n_de, "
    "CAST(NULL AS BIGINT) AS n_fr, "
    "CAST(NULL AS BIGINT) AS n_es, "
    "CAST(NULL AS BIGINT) AS n_zh, "
    "CAST(NULL AS VARCHAR) AS pred_lang, "
    "{name} AS fingerprint_md5, "
    "CAST(NULL AS BIGINT) AS n_ws_tokens, "
    "CAST(NULL AS BIGINT) AS n_bpe_tokens, "
    "CAST(NULL AS BIGINT) AS chars_per_bpe_micro, "
    "CAST(NULL AS BIGINT) AS n_chunks, "
    "CAST(NULL AS BIGINT) AS n_dup_chunks, "
    "CAST(NULL AS BIGINT) AS dup_chunk_frac_micro, "
    "CAST(NULL AS BIGINT) AS kept_tokens, "
    "CAST(NULL AS BIGINT) AS canonical_id, "
    "CAST(NULL AS BIGINT) AS n_copies"
)


def _canary_sql_a(k: int, name: str, expr: str, expected: str) -> str:
    cols = _CANARY_ROW_COLS_A.format(name=f"'canary:{name}'")
    return (
        f"SELECT CAST({-2001 - k} AS BIGINT) AS doc_id, {cols} "
        f"FROM range({2 ** k}) "
        f"WHERE NOT (({expr}) IS NOT DISTINCT FROM ({expected}))"
    )


ORACLE_DOC_PROFILE_A = _ORACLE_DOC_PROFILE_A_BASE + "".join(
    "\nUNION ALL\n" + _canary_sql_a(k, name, expr, expected)
    for k, (name, expr, expected) in enumerate(_CANARIES)
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused ANN suite: brute-force cosine top-k (exactness baseline) UNION
    the SRP-LSH bucketed variant (scale path), tagged by method."""
    a = q_ann_cosine_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"), "query_id", "vec_id", "cosine_sim"
    )
    b = q_ann_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id", "cosine_sim"
    )
    return a.unionByName(b)


ORACLE_ANN_TOPK = f"""
SELECT 'brute' AS method, * FROM ({ORACLE_ANN})
UNION ALL
SELECT 'lsh' AS method, * FROM ({ORACLE_ANN_LSH})
"""


def q_asof_attribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused as-of join: the plain union+window variant UNION the
    skew-hardened sliced variant on the same attribution task — equal results
    under one oracle prove both paths."""
    a = q_asof_click_attribution(spark, sf_dir)
    b = q_asof_click_attribution_sliced(spark, sf_dir)
    return a.select(F.lit("plain").alias("variant"), *a.columns).unionByName(
        b.select(F.lit("sliced").alias("variant"), *b.columns)
    )


ORACLE_ASOF_SUITE = f"""
SELECT 'plain' AS variant, * FROM ({ORACLE_ASOF_CLICK})
UNION ALL
SELECT 'sliced' AS variant, * FROM ({ORACLE_ASOF_CLICK})
"""


def q_span_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused S6/A8 + O4/U2: per-source span scan UNION per-user first/last
    record resolution (user rows keyed 'user:<id>')."""
    nb = F.lit(None).cast("bigint")
    spans = q_span_scan(spark, sf_dir).select(
        "source", "first_ts", "last_ts", "n_records",
        nb.alias("first_event_id"), nb.alias("last_event_id"),
    )
    ev = _t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_records"),
        F.min_by("event_id", key).alias("first_event_id"),
        F.max_by("event_id", key).alias("last_event_id"),
    ).select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("source"),
        "first_ts", "last_ts", "n_records", "first_event_id", "last_event_id",
    )
    return spans.unionByName(users)


ORACLE_SPAN_FIRST_LAST = f"""
SELECT source, first_ts, last_ts, n_records,
  CAST(NULL AS BIGINT) AS first_event_id, CAST(NULL AS BIGINT) AS last_event_id
FROM ({ORACLE_SPAN})
UNION ALL
SELECT 'user:' || CAST(user_id AS VARCHAR) AS source, first_ts, last_ts,
  n_records, first_event_id, last_event_id
FROM (
  WITH f AS (
    SELECT user_id, event_id AS first_event_id FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1
  ),
  l AS (
    SELECT user_id, event_id AS last_event_id FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
  ),
  s AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, COUNT(*) AS n_records
        FROM events GROUP BY 1)
  SELECT s.user_id, s.first_ts, s.last_ts, s.n_records, f.first_event_id, l.last_event_id
  FROM s JOIN f USING (user_id) JOIN l USING (user_id)
)
"""


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A9 + quantiles: exact per-type quantiles cross-joined with the
    global distinct-count cardinalities (one broadcastable row)."""
    return q_value_quantiles(spark, sf_dir).crossJoin(
        F.broadcast(q_distinct_counts(spark, sf_dir))
    )


ORACLE_SUMMARY_STATS = f"""
SELECT q.*, d.* FROM ({ORACLE_QUANTILES}) q CROSS JOIN ({ORACLE_DISTINCT_COUNTS}) d
"""


def q_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused multimodal plumbing: JVM-side byte stats joined with the
    Arrow-batched feature extraction (deterministic unit-norm fake encoder —
    the norm check proves the mapInPandas plumbing end-to-end)."""
    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    stats = multimodal.content_stats(assets).select(
        "asset_id", "modality", "n_bytes", "content_md5"
    )
    feats = multimodal.extract_features(assets, dim=16)
    featured = feats.select(
        "asset_id",
        F.size("feature").cast("bigint").alias("feature_dim"),
        F.round(
            F.sqrt(F.aggregate(F.col("feature"), F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("feature_norm"),
    )
    return stats.join(featured, "asset_id")


ORACLE_MULTIMODAL = """
SELECT doc_id AS asset_id, 'text' AS modality,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_md5,
  CAST(16 AS BIGINT) AS feature_dim,
  CAST(1.0 AS DOUBLE) AS feature_norm
FROM documents
"""


# --------------------------------------------------------------------------
# Flagship pipeline (entry)
# --------------------------------------------------------------------------

def q_conditioned_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference conditioning chain (P6+P7+P3+QC+W6)."""
    apply_engine_conf(spark)
    return condition_events(spark, sf_dir)


ORACLE_CONDITIONED = """
WITH dedup AS (SELECT DISTINCT * FROM events),
keyed AS (
  SELECT * FROM dedup WHERE ts IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
),
masked AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS block_start,
    CASE WHEN value >= 10.0 AND value <= 400.0 THEN value END AS v,
    CASE WHEN value >= 10.0 AND value <= 400.0 THEN 0 ELSE 1 END AS flag
  FROM keyed
)
SELECT block_start, COUNT(*) AS n_recs,
  CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
  CAST(SUM(flag) AS BIGINT) AS n_flagged
FROM masked GROUP BY 1
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_engine_conf(spark)
    return condition_events(spark, SF001)


def q_llm_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused LLM-curation pipeline over documents — five tagged branches:

    - ``cc``: MinHash near-dup pairs (portable mode) -> distributed
      connected components -> canonical (min-id) cluster per doc;
    - ``sample``: deterministic 20% md5-hash sample;
    - ``pii``: PII injection + scrub; value = md5 of the scrubbed text
      (byte-level regex parity with the oracle) + redaction count;
    - ``budget``: per-source greedy char-budget selection (window cumsum);
    - ``tfidf``: top-3 terms per doc by TF-IDF, integer-total-order rank;
    - ``rep``: Gopher-style repetition signals (top-2-gram fraction,
      duplicate-3-gram fraction) per doc;
    - ``decon``: train/eval decontamination — eval set = doc_id % 97 == 0,
      train docs flagged by 8-token-gram overlap (distinct grams + eval
      docs implicated);
    - ``mix``: temperature-based domain rebalancing (alpha=0.5, ~2000-doc
      target, per-source hash cuts derived from counts);
    - ``pack``: greedy sequential sequence packing per source at 4096
      chars — document -> (sequence, offset) assignment;
    - ``seqs``: the materialised packed sequences — md5 of each
      sequence's concatenated text (byte-level parity) + its weight;
    - ``split``: leak-free train/val/test assignment keyed on the
      near-dup cluster canonical (shares the staged cc table);
    - ``dsir``: DSIR importance resampling (Xie et al. 2023) — 100 docs
      Gumbel-top-k selected so the pool's hashed unigram+bigram
      distribution importance-matches the ``lang='en'`` target slice;
      value = exact integer micro-log weight and selection key (the
      only float steps are the precedent ln->round(1e12) quantisations).
    - ``dsir_ext`` (r13): the EXTERNAL-target DSIR path — pool = even
      doc_ids, target = the odd English docs, disjoint by construction,
      so the ratio estimation runs the genuine two-corpus form (a
      second tokenise+gram+hash pass over the target, no id semi-join
      shortcut); same exact-integer output contract as ``dsir``.
    """
    from tern_ep_data_pipeline_spark.operators import sampling
    from tern_ep_data_pipeline_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    ns = F.lit(None).cast("string")
    nd = F.lit(None).cast("double")

    def _b_cc_split() -> list[DataFrame]:
        pairs = dedup.minhash_dedup_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.2,
            hash_mode="portable",
        )
        # staged: the cluster table feeds both the cc listing and the
        # leak-free split branch (union branches get no common-subplan
        # reuse). lazy_small (r15): the union-find runs inside the plan at
        # action time — overlapped with the other 12 branches — instead of
        # eagerly materialising the whole pair pipeline at build.
        # corpus_rows (r16): parquet-footer row count routes the cc branch
        # to the DISTRIBUTED loop at build time when the corpus outgrows
        # the one-task union-find, instead of erroring mid-action
        from tern_ep_data_pipeline_spark.sources.tables import table_rows

        cluster_frame = dedup._stage(
            dedup_clusters(
                pairs, lazy_small=True,
                corpus_rows=table_rows(sf_dir, "documents"),
            )
        )
        cc = cluster_frame.select(
            F.lit("cc").alias("part"),
            F.col("node").cast("string").alias("key"),
            F.col("component").cast("string").alias("val_s"),
            nd.alias("val_d"),
        )
        split = sampling.leak_free_split(docs, "doc_id", cluster_frame).select(
            F.lit("split").alias("part"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("split").alias("val_s"),
            nd.alias("val_d"),
        )
        return [cc, split]

    def _b_sample() -> list[DataFrame]:
        bucket = sampling.hash_bucket("doc_id", salt="smp")
        return [
            docs.withColumn("bucket", bucket)
            .where(F.col("bucket") < 2000)
            .select(
                F.lit("sample").alias("part"),
                F.col("doc_id").cast("string").alias("key"),
                ns.alias("val_s"),
                F.col("bucket").cast("double").alias("val_d"),
            )
        ]

    def _b_pii() -> list[DataFrame]:
        injected = (
            "concat('contact u', CAST(doc_id AS STRING), "
            "'@ex.com or call 555-123-4567 ', text)"
        )
        # fan out: the scrub's regex chain is the branch's whole cost and
        # would otherwise run on the split-deficient scan's single task;
        # row-local projection, so partitioning cannot change the result
        return [
            dedup._fanout(docs, "doc_id").selectExpr(
                "'pii' AS part",
                "CAST(doc_id AS STRING) AS key",
                f"md5({text.scrub_pii_sql(injected)}) AS val_s",
                f"CAST({text.pii_hits_sql(injected)} AS DOUBLE) AS val_d",
            )
        ]

    def _b_budget() -> list[DataFrame]:
        return [
            sampling.budget_select(
                docs, "source", [F.col("n_chars").desc(), F.col("doc_id")],
                "n_chars", 2000,
            ).select(
                F.lit("budget").alias("part"),
                F.concat(
                    F.col("source"), F.lit("#"), F.col("doc_id").cast("string")
                ).alias("key"),
                ns.alias("val_s"),
                F.col("cum_weight").cast("double").alias("val_d"),
            )
        ]

    def _b_tfidf() -> list[DataFrame]:
        return [
            text.tfidf_top_terms(docs, "doc_id", "text", k=3).select(
                F.lit("tfidf").alias("part"),
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    F.col("rank").cast("string"),
                ).alias("key"),
                F.col("term").alias("val_s"),
                F.col("tfidf").alias("val_d"),
            )
        ]

    def _b_rep() -> list[DataFrame]:
        return [text.repetition_stats(docs, "doc_id", "text").select(
        F.col("doc_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("top2").alias("tag"), F.col("top2_gram_frac").alias("v")
                ),
                F.struct(
                    F.lit("dup3").alias("tag"), F.col("dup3_gram_frac").alias("v")
                ),
            )
        ).alias("m"),
    ).select(
        F.lit("rep").alias("part"),
        F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("m.tag")).alias(
            "key"
        ),
        ns.alias("val_s"),
        F.col("m.v").alias("val_d"),
    )]

    def _b_decon() -> list[DataFrame]:
        return [text.contamination_hits(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        n=8,
    ).select(
        F.col("doc_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("grams").alias("tag"),
                    F.col("n_contaminated_grams").cast("double").alias("v"),
                ),
                F.struct(
                    F.lit("docs").alias("tag"),
                    F.col("n_eval_docs").cast("double").alias("v"),
                ),
            )
        ).alias("m"),
    ).select(
        F.lit("decon").alias("part"),
        F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("m.tag")).alias(
            "key"
        ),
        ns.alias("val_s"),
        F.col("m.v").alias("val_d"),
    )]

    def _b_mix() -> list[DataFrame]:
        return [
            sampling.temperature_sample(
                docs, "doc_id", "source", alpha=0.5, total=2000, salt="mix"
            ).select(
                F.lit("mix").alias("part"),
                F.col("doc_id").cast("string").alias("key"),
                F.col("source").alias("val_s"),
                nd.alias("val_d"),
            )
        ]

    def _b_pack() -> list[DataFrame]:
        return [
            sampling.pack_sequences(
                docs, "doc_id", "n_chars", seq_len=4096, group_cols=("source",)
            ).select(
                F.lit("pack").alias("part"),
                F.col("doc_id").cast("string").alias("key"),
                F.concat(
                    F.col("source"), F.lit("#"), F.col("seq_index").cast("string")
                ).alias("val_s"),
                F.col("seq_offset").cast("double").alias("val_d"),
            )
        ]

    def _b_seqs() -> list[DataFrame]:
        return [
            sampling.materialise_sequences(
                docs, "doc_id", "text", "n_chars", seq_len=4096,
                group_cols=("source",),
            ).select(
                F.lit("seqs").alias("part"),
                F.concat(
                    F.col("source"), F.lit("#"), F.col("seq_index").cast("string")
                ).alias("key"),
                F.md5(F.col("seq_text")).alias("val_s"),
                F.col("seq_weight").cast("double").alias("val_d"),
            )
        ]

    def _b_dsir() -> list[DataFrame]:
        return [
            sampling.importance_resample(
                docs, docs.where(F.col("lang") == "en"), 100, buckets=10_000,
                target_subset_of_raw=True,
            ).select(
                F.lit("dsir").alias("part"),
                F.col("doc_id").cast("string").alias("key"),
                F.concat_ws(
                    ":", F.col("logweight_micro"), F.col("key_micro")
                ).alias("val_s"),
                nd.alias("val_d"),
            )
        ]

    def _b_dsir_ext() -> list[DataFrame]:
        return [
            sampling.importance_resample(
                docs.where(F.col("doc_id") % 2 == 0),
                docs.where((F.col("doc_id") % 2 == 1) & (F.col("lang") == "en")),
                100,
                buckets=10_000,
            ).select(
                F.lit("dsir_ext").alias("part"),
                F.col("doc_id").cast("string").alias("key"),
                F.concat_ws(
                    ":", F.col("logweight_micro"), F.col("key_micro")
                ).alias("val_s"),
                nd.alias("val_d"),
            )
        ]

    # Build the 13 branches on a small driver thread pool (r15): branch
    # construction is dominated by py4j round trips (which release the
    # GIL on the socket wait, so threads genuinely overlap) plus the cc
    # branch's eager pair-pipeline materialisation inside
    # connected_components — serially that is 3-4 s of build wall at
    # sf0.1 before the first byte of execution. The union composes the
    # completed branches in the SAME fixed order as the old sequential
    # build, so the plan (and the result) is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    thunks = [
        _b_cc_split, _b_sample, _b_pii, _b_budget, _b_tfidf, _b_rep,
        _b_decon, _b_mix, _b_pack, _b_seqs, _b_dsir, _b_dsir_ext,
    ]
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(t) for t in thunks]
        parts = [df for fut in futs for df in fut.result()]
    out = parts[0]
    for branch in parts[1:]:
        out = out.unionByName(branch)
    return out


def q_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (not in the registry — PQ codebook float iteration is not
    SQL-reproducible): the full IVF-PQ pipeline — train codebooks, encode,
    coarse-probe, ADC shortlist, exact re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, m=8, k=16, iters=4)
    queries_df = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_pq_topk(
        emb, books, queries_df, k=10, n_probe=3, shortlist=100
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (not in the registry — logistic float iteration is not
    SQL-reproducible): the model-based quality-filter pipeline end to end —
    weak labels, bounded-sample logistic fit, broadcast-weights map-only
    scoring, threshold filter. r8: trains driver-side on a capped
    deterministic sample (`quality_model.train_quality_weights_sampled`)
    instead of ~50 pyspark.ml treeAggregate passes — the trainer shape
    that survives 100 TB (the pipeline trainer remains for callers who
    want pyspark.ml; rank-parity pinned in tests/test_quality_model.py)."""
    from tern_ep_data_pipeline_spark.operators import quality_model as qm

    import numpy as np

    docs = _t(spark, sf_dir, "documents")
    # class-balanced weak label for ANY corpus: median split on a continuous
    # signal (the driver's synthetic corpus has ~zero n-gram repetition, so
    # the Gopher repetition labeller would be one-sided here). Median AND
    # labels derive from the bounded sample itself — a weak label needs no
    # exact corpus median — so the whole job is TWO corpus passes: the
    # deterministic top-k sample collect, and the fused score+filter scan.
    sample = np.asarray(
        qm.collect_feature_sample(docs, "doc_id", "text", 100_000),
        dtype=np.float64,
    )
    sr = sample[:, 0]  # stopword_ratio is HEURISTIC_FEATURES[0]
    weights = qm.fit_logistic_sample(sample, (sr >= np.median(sr)).astype(float))
    return docs.where(qm.quality_prob_expr(weights, "text") >= F.lit(0.5))


def _llm_curation_oracle() -> str:
    # PII patterns interpolated from the operator module so the SQL can
    # never drift from the Spark implementation.
    (email, email_tok), (ip, ip_tok), (phone, phone_tok) = text.PII_PATTERNS
    minhash_body = _minhash_portable_oracle().strip().removeprefix("WITH")
    return f"""
WITH RECURSIVE {minhash_body.rsplit("SELECT * FROM verified", 1)[0].rstrip()},
pairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard_sim >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.label FROM walk w JOIN edges e ON w.node = e.a
),
cc AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
split_src AS (
  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS comp
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
),
splitb AS (
  SELECT doc_id,
    ('0x'||substr(md5('split:'||comp),1,15))::BIGINT % 10000 AS b
  FROM split_src
),
samp AS (
  SELECT doc_id,
    ('0x'||substr(md5('smp:'||doc_id),1,15))::BIGINT % 10000 AS bucket
  FROM documents
),
pii0 AS (
  SELECT doc_id,
    'contact u'||doc_id||'@ex.com or call 555-123-4567 '||text AS s0
  FROM documents
),
pii1 AS (SELECT doc_id, s0, regexp_replace(s0, '{email}', '{email_tok}', 'g') AS s1 FROM pii0),
pii2 AS (SELECT *, regexp_replace(s1, '{ip}', '{ip_tok}', 'g') AS s2 FROM pii1),
pii3 AS (
  SELECT doc_id, s2 AS pre_phone,
    regexp_replace(s2, '{phone}', '{phone_tok}', 'g') AS s3,
    len(regexp_extract_all(s0, '{email}'))
      + len(regexp_extract_all(s1, '{ip}'))
      + len(regexp_extract_all(s2, '{phone}')) AS hits
  FROM pii2
),
ranked_docs AS (
  SELECT doc_id, source, n_chars,
    sum(n_chars) OVER (
      PARTITION BY source ORDER BY n_chars DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
ndocs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
ranked_terms AS (
  SELECT doc_id, term, tf, df,
    row_number() OVER (
      PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
    ) AS rank
  FROM tf JOIN dfreq USING (term)
),
rep_t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
rep2c AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 1, 1)),
      i -> array_to_string(t[i:i+1], ' '))) AS g
    FROM rep_t
  ) GROUP BY 1, 2
),
rep2f AS (
  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS v
  FROM rep2c GROUP BY 1
),
rep3c AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM rep_t
  ) GROUP BY 1, 2
),
rep3f AS (
  SELECT doc_id,
    round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS v
  FROM rep3c GROUP BY 1
),
dec_ev AS (
  SELECT DISTINCT eval_id, g FROM (
    SELECT doc_id AS eval_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 7, 1)),
      i -> array_to_string(t[i:i+7], ' '))) AS g
    FROM rep_t WHERE doc_id % 97 = 0
  )
),
dec_tr AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(t) - 7, 1)),
      i -> array_to_string(t[i:i+7], ' '))) AS g
    FROM rep_t WHERE doc_id % 97 <> 0
  )
),
dec_hits AS (
  SELECT doc_id, count(DISTINCT dec_tr.g) AS ng, count(DISTINCT eval_id) AS nd
  FROM dec_tr JOIN dec_ev USING (g) GROUP BY 1
),
mixc AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
mixcut AS (
  SELECT source,
    CAST(round(least(1.0,
      2000 * pow(c, 0.5) / (SELECT sum(pow(c, 0.5)) FROM mixc) / c) * 10000)
      AS BIGINT) AS cut
  FROM mixc
),
mix AS (
  SELECT doc_id, d.source FROM documents d JOIN mixcut USING (source)
  WHERE ('0x'||substr(md5('mix:'||doc_id),1,15))::BIGINT % 10000 < cut
),
packed AS (
  SELECT doc_id, source,
    sum(n_chars) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) - n_chars AS st
  FROM documents
),
dsir_g AS (
  SELECT doc_id, ('0x'||substr(md5('dsir:'||g),1,15))::BIGINT % 10000 AS bucket
  FROM (
    SELECT doc_id, unnest(list_concat(
      t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
    )) AS g FROM rep_t
  )
),
dsir_docb AS (SELECT doc_id, bucket, count(*) AS c FROM dsir_g GROUP BY 1, 2),
dsir_rawb AS (SELECT bucket, sum(c) AS cr FROM dsir_docb GROUP BY 1),
dsir_tgtb AS (
  SELECT bucket, count(*) AS ct FROM dsir_g JOIN documents USING (doc_id)
  WHERE lang = 'en' GROUP BY 1
),
dsir_tot AS (
  SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM dsir_rawb) AS tr,
         (SELECT CAST(sum(ct) AS DOUBLE) FROM dsir_tgtb) AS tt
),
dsir_lr AS (
  SELECT bucket,
    CAST(round((ln((COALESCE(ct, 0) + 1.0) / (tt + 10000.0))
              - ln((cr + 1.0) / (tr + 10000.0))) * 1e12) AS BIGINT) AS lr_pico
  FROM dsir_rawb LEFT JOIN dsir_tgtb USING (bucket), dsir_tot
),
dsir_scored AS (
  SELECT doc_id, CAST(sum(CAST(c AS HUGEINT) * lr_pico) AS HUGEINT) AS s
  FROM dsir_docb JOIN dsir_lr USING (bucket) GROUP BY 1
),
dsir_keyed AS (
  SELECT doc_id, s,
    s + CAST(round(-ln(-ln(
      ((('0x'||substr(md5('dsir-g:'||doc_id),1,15))::BIGINT) + 0.5)
      / 1152921504606846976.0)) * 1e12) AS BIGINT) AS kk
  FROM dsir_scored
),
dsir_sel AS (SELECT * FROM dsir_keyed ORDER BY kk DESC, doc_id LIMIT 100),
dsx_docb AS (
  SELECT doc_id, bucket, count(*) AS c FROM dsir_g
  WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
dsx_rawb AS (SELECT bucket, sum(c) AS cr FROM dsx_docb GROUP BY 1),
dsx_tgtb AS (
  SELECT bucket, count(*) AS ct FROM dsir_g JOIN documents USING (doc_id)
  WHERE doc_id % 2 = 1 AND lang = 'en' GROUP BY 1
),
dsx_tot AS (
  SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM dsx_rawb) AS tr,
         (SELECT CAST(sum(ct) AS DOUBLE) FROM dsx_tgtb) AS tt
),
dsx_lr AS (
  SELECT bucket,
    CAST(round((ln((COALESCE(ct, 0) + 1.0) / (tt + 10000.0))
              - ln((cr + 1.0) / (tr + 10000.0))) * 1e12) AS BIGINT) AS lr_pico
  FROM dsx_rawb LEFT JOIN dsx_tgtb USING (bucket), dsx_tot
),
dsx_scored AS (
  SELECT doc_id, CAST(sum(CAST(c AS HUGEINT) * lr_pico) AS HUGEINT) AS s
  FROM dsx_docb JOIN dsx_lr USING (bucket) GROUP BY 1
),
dsx_keyed AS (
  SELECT doc_id, s,
    s + CAST(round(-ln(-ln(
      ((('0x'||substr(md5('dsir-g:'||doc_id),1,15))::BIGINT) + 0.5)
      / 1152921504606846976.0)) * 1e12) AS BIGINT) AS kk
  FROM dsx_scored
),
dsx_sel AS (SELECT * FROM dsx_keyed ORDER BY kk DESC, doc_id LIMIT 100)
SELECT 'cc' AS part, CAST(node AS VARCHAR) AS key,
  CAST(component AS VARCHAR) AS val_s, CAST(NULL AS DOUBLE) AS val_d
FROM cc
UNION ALL
SELECT 'split', CAST(doc_id AS VARCHAR),
  CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val' ELSE 'test' END,
  CAST(NULL AS DOUBLE)
FROM splitb
UNION ALL
SELECT 'sample', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
  CAST(bucket AS DOUBLE)
FROM samp WHERE bucket < 2000
UNION ALL
SELECT 'pii', CAST(doc_id AS VARCHAR), md5(s3), CAST(hits AS DOUBLE)
FROM pii3
UNION ALL
SELECT 'budget', source||'#'||doc_id, CAST(NULL AS VARCHAR), CAST(cum AS DOUBLE)
FROM ranked_docs WHERE cum <= 2000
UNION ALL
SELECT 'tfidf', doc_id||'#'||rank, term,
  round(tf * ln(CAST((SELECT n FROM ndocs) AS DOUBLE) / df), 6)
FROM ranked_terms WHERE rank <= 3
UNION ALL
SELECT 'rep', doc_id||'#top2', CAST(NULL AS VARCHAR), v FROM rep2f
UNION ALL
SELECT 'rep', doc_id||'#dup3', CAST(NULL AS VARCHAR), v FROM rep3f
UNION ALL
SELECT 'decon', doc_id||'#grams', CAST(NULL AS VARCHAR), CAST(ng AS DOUBLE)
FROM dec_hits
UNION ALL
SELECT 'decon', doc_id||'#docs', CAST(NULL AS VARCHAR), CAST(nd AS DOUBLE)
FROM dec_hits
UNION ALL
SELECT 'mix', CAST(doc_id AS VARCHAR), source, CAST(NULL AS DOUBLE) FROM mix
UNION ALL
SELECT 'pack', CAST(doc_id AS VARCHAR),
  source||'#'||CAST(floor(st / 4096.0) AS BIGINT), CAST(st % 4096 AS DOUBLE)
FROM packed
UNION ALL
SELECT 'seqs', p.source||'#'||CAST(floor(p.st / 4096.0) AS BIGINT),
  md5(string_agg(d.text, ' ' ORDER BY p.doc_id)),
  CAST(sum(d.n_chars) AS DOUBLE)
FROM packed p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY p.source, floor(p.st / 4096.0)
UNION ALL
SELECT 'dsir', CAST(doc_id AS VARCHAR),
  CAST(CAST(CASE WHEN s >= 0 THEN (2*s + 1000000) // 2000000
       ELSE -((2*(-s) + 1000000) // 2000000) END AS BIGINT) AS VARCHAR)
  || ':' ||
  CAST(CAST(CASE WHEN kk >= 0 THEN (2*kk + 1000000) // 2000000
       ELSE -((2*(-kk) + 1000000) // 2000000) END AS BIGINT) AS VARCHAR),
  CAST(NULL AS DOUBLE)
FROM dsir_sel
UNION ALL
SELECT 'dsir_ext', CAST(doc_id AS VARCHAR),
  CAST(CAST(CASE WHEN s >= 0 THEN (2*s + 1000000) // 2000000
       ELSE -((2*(-s) + 1000000) // 2000000) END AS BIGINT) AS VARCHAR)
  || ':' ||
  CAST(CAST(CASE WHEN kk >= 0 THEN (2*kk + 1000000) // 2000000
       ELSE -((2*(-kk) + 1000000) // 2000000) END AS BIGINT) AS VARCHAR),
  CAST(NULL AS DOUBLE)
FROM dsx_sel
"""


ORACLE_LLM_CURATION = _llm_curation_oracle()


def queries() -> dict[str, QueryFn]:
    """Registry capped at <=50 entries (the driver checks exactly the first
    50): same-shaped queries are fused (see the fused-suite section) so every
    SURVEY §2 operator gets a driver CORRECTNESS row. The flagship and the
    entries that were driver-unverified in round 1 lead the dict."""
    return {
        # flagship + round-1-unverified entries first
        "conditioned_blocks": q_conditioned_blocks,
        "profile_storage": q_profile_storage,
        "priority_runs": q_priority_runs,
        "asof_click_attribution": q_asof_attribution_suite,
        "user_sessions": q_user_sessions,
        "clicks_in_error_incidents": q_clicks_in_error_incidents,
        "monthly_rollup_cascade": q_monthly_rollup_cascade,
        "cube_returns": q_cube_returns,
        "returned_revenue_top": q_returned_revenue_top,
        "nation_trade_volume": q_nation_trade_volume,
        "span_first_last": q_span_first_last,
        "summary_stats": q_summary_stats,
        "approx_stats": q_approx_stats,
        "label_centroids": q_label_centroids,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_topk": q_ann_topk,
        "multimodal_suite": q_multimodal_suite,
        # relational core
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "region_revenue": q_region_revenue,
        "top_customers": q_top_customers,
        "order_priorities": q_order_priorities,
        "customer_order_distribution": q_customer_order_distribution,
        "never_ordered_parts": q_never_ordered_parts,
        # conditioning / regularisation / gaps
        "dedupe_suite": q_dedupe_suite,
        "grid_regularise": q_grid_regularise,
        "cadence_report": q_cadence_report,
        "gap_suite": q_gap_suite,
        # masking + functions
        "range_mask": q_range_mask,
        "unit_met_suite": q_unit_met_suite,
        # windows / status
        "storage_lag": q_storage_lag,
        "tumbling_30min": q_tumbling_30min,
        "diel_cycle": q_diel_cycle,
        "status_suite": q_status_suite,
        "status_collation": q_status_collation,
        # joins / set ops
        "nearest_size_match": q_nearest_size_match,
        "calendar_days": q_calendar_days,
        "set_ops_nations": q_set_ops_nations,
        "incremental_append": q_incremental_append,
        "dim_translate": q_dim_translate,
        # reshape
        "pivot_melt_roundtrip": q_pivot_melt_roundtrip,
        "height_interpolation": q_height_interpolation,
        # training-data ops
        "doc_profile_a": q_doc_profile_a,
        "doc_profile_b": q_doc_profile_b,
        "doc_winnow_fingerprint": q_doc_winnow_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_dedup_portable": q_minhash_dedup_portable,
        "simhash_pairs_portable": q_simhash_pairs_portable,
        "llm_curation_suite": q_llm_curation_suite,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "conditioned_blocks": ORACLE_CONDITIONED,
        "profile_storage": ORACLE_PROFILE,
        "priority_runs": ORACLE_PRIORITY_RUNS,
        "asof_click_attribution": ORACLE_ASOF_SUITE,
        "user_sessions": ORACLE_USER_SESSIONS,
        "clicks_in_error_incidents": ORACLE_CLICKS_IN_INCIDENTS,
        "monthly_rollup_cascade": ORACLE_MONTHLY_ROLLUP,
        "cube_returns": ORACLE_CUBE_RETURNS,
        "returned_revenue_top": ORACLE_RETURNED_TOP,
        "nation_trade_volume": ORACLE_NATION_TRADE,
        "span_first_last": ORACLE_SPAN_FIRST_LAST,
        "summary_stats": ORACLE_SUMMARY_STATS,
        "label_centroids": ORACLE_CENTROIDS,
        "embedding_near_dup": ORACLE_EMB_NEAR_DUP,
        "ann_topk": ORACLE_ANN_TOPK,
        "multimodal_suite": ORACLE_MULTIMODAL,
        "pricing_summary": ORACLE_PRICING,
        "shipping_priority": ORACLE_SHIPPING,
        "region_revenue": ORACLE_REGION,
        "top_customers": ORACLE_TOP_CUST,
        "order_priorities": ORACLE_ORDER_PRIORITIES,
        "customer_order_distribution": ORACLE_CUSTOMER_DIST,
        "never_ordered_parts": ORACLE_NEVER_ORDERED,
        "dedupe_suite": ORACLE_DEDUPE_SUITE,
        "grid_regularise": ORACLE_GRID,
        "cadence_report": ORACLE_CADENCE,
        "gap_suite": ORACLE_GAP_SUITE,
        "range_mask": ORACLE_RANGE_MASK,
        "unit_met_suite": ORACLE_UNIT_MET,
        "storage_lag": ORACLE_STORAGE_LAG,
        "tumbling_30min": ORACLE_TUMBLING,
        "diel_cycle": ORACLE_DIEL,
        "status_suite": ORACLE_STATUS_SUITE,
        "status_collation": ORACLE_STATUS_COLLATION,
        "nearest_size_match": ORACLE_NEAREST,
        "calendar_days": ORACLE_CALENDAR_DAYS,
        "set_ops_nations": ORACLE_SET_OPS,
        "incremental_append": ORACLE_INCREMENTAL,
        "dim_translate": ORACLE_DIM_TRANSLATE,
        "pivot_melt_roundtrip": ORACLE_MELT,
        "height_interpolation": ORACLE_HEIGHT_INTERP,
        "doc_profile_a": ORACLE_DOC_PROFILE_A,
        "doc_profile_b": ORACLE_DOC_PROFILE_B,
        "doc_winnow_fingerprint": ORACLE_WINNOW,
        "ngram_jaccard": ORACLE_NGRAM_JACCARD,
        "minhash_dedup_portable": ORACLE_MINHASH_PORTABLE,
        "simhash_pairs_portable": ORACLE_SIMHASH_PORTABLE,
        "llm_curation_suite": ORACLE_LLM_CURATION,
        "ann_ivf_topk": ORACLE_IVF_SUITE,
        "approx_stats": ORACLE_APPROX_STATS,
        # The fast modes of minhash (xxhash64) and simhash (numpy Arrow
        # kernel) are pinned in tests/test_dedup_similarity_text.py —
        # minhash pair-equal to portable, simhash self-consistent — instead
        # of occupying registry slots.
    }
