"""Missing-record accounting and gap analysis.

Parity targets (ref ``code/file_handling/file_handler.py``):
- A2 missing-record stats: expected count from the [start, end] span at the
  site interval vs actual rows; n & pct missing (:241-263).
- A3 gap bounds + distribution: lag-diff of timestamps -> gaps greater than
  one interval; (last-before, first-after) bounds and a histogram of gap
  sizes (:267-326). W2 is the same lag.

Scale note: the lag window runs per partition key (site/user) when keys are
given. The unkeyed (global time axis) path does NOT use a global-orderBy
window — that would sort every distinct timestamp in one task. Instead it
range-partitions the distinct timestamps, lags within each range partition,
and repairs the one missing pair per partition boundary from a tiny
per-partition min/max aggregate: every stage is cluster-parallel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import _sql_ident


def missing_record_stats(
    df: DataFrame,
    ts_col: str,
    interval_seconds: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """A2: expected vs actual record counts per partition."""
    gb = df.groupBy(*partition_cols) if partition_cols else df.groupBy()
    out = gb.agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.count(F.lit(1)).alias("n_actual"),
    ).withColumn(
        "n_expected",
        F.expr(
            f"timestampdiff(MICROSECOND, start_ts, end_ts) div 1000000 div {interval_seconds}"
        )
        + 1,
    )
    return out.withColumn("n_missing", F.col("n_expected") - F.col("n_actual")).withColumn(
        "pct_missing",
        F.round(F.col("n_missing") * 100.0 / F.col("n_expected"), 6),
    )


def lagged_timestamps(
    df: DataFrame, ts_col: str, partition_cols: Sequence[str] = ()
) -> DataFrame:
    """Distinct timestamps with their predecessor (``prev_ts``) — the
    shared input of gap_report and gap_histogram. Callers deriving BOTH
    should build this once (and usually persist it): the distinct +
    range-lag pipeline is the expensive part of either output."""
    dist = df.select(*partition_cols, ts_col).distinct()
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(ts_col)
        return dist.withColumn("prev_ts", F.lag(ts_col).over(w))
    return _lagged_global(dist, ts_col)


_lagged = lagged_timestamps


def _lagged_global(dist: DataFrame, ts_col: str) -> DataFrame:
    """Distributed lag over a single global time axis.

    Range-partition by timestamp (partition ranges are ordered, and AQE
    coalescing merges only adjacent ranges, so partition id order == time
    order), lag within each partition, then synthesise the per-boundary
    pair (previous partition's max -> this partition's min) from a
    per-partition min/max aggregate that is one row per partition. The
    global first timestamp keeps prev_ts = null, as a plain lag would give.
    """
    from .dedup import _stage

    # staged: both the within-partition lag and the boundary-repair
    # branch read the ranged axis — unstaged, each rebuilt the whole
    # scan -> distinct -> range-shuffle pipeline (r10 fusion audit:
    # 7 -> 5 exchanges inside the lagged plan, distinct work halved)
    ranged = _stage(
        dist.repartitionByRange(F.col(ts_col)).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    w = Window.partitionBy("__pid").orderBy(ts_col)
    inner = (
        ranged.withColumn("prev_ts", F.lag(ts_col).over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(ts_col, "prev_ts")
    )
    bounds = ranged.groupBy("__pid").agg(
        F.min(ts_col).alias("__mn"), F.max(ts_col).alias("__mx")
    )
    bw = Window.orderBy("__pid")  # one row per partition — tiny
    boundary = bounds.select(
        F.col("__mn").alias(ts_col), F.lag("__mx").over(bw).alias("prev_ts")
    )
    return inner.unionByName(boundary)


def gap_report(
    df: DataFrame,
    ts_col: str,
    min_gap_seconds: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """A3: gaps longer than ``min_gap_seconds`` with bounds.

    Output: partition cols + ``gap_start`` (last record before),
    ``gap_end`` (first record after), ``gap_seconds``.
    """
    return gap_report_from_lagged(
        _lagged(df, ts_col, partition_cols), ts_col, min_gap_seconds, partition_cols
    )


def gap_report_from_lagged(
    lagged: DataFrame,
    ts_col: str,
    min_gap_seconds: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """gap_report over a pre-built :func:`lagged_timestamps` frame."""
    return (
        lagged.withColumn(
            "gap_seconds",
            F.expr(
                f"timestampdiff(MICROSECOND, prev_ts, {_sql_ident(ts_col)}) div 1000000"
            ),
        )
        .filter(F.col("gap_seconds") > min_gap_seconds)
        .select(
            *partition_cols,
            F.col("prev_ts").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            "gap_seconds",
        )
    )


def gap_histogram(
    df: DataFrame,
    ts_col: str,
    interval_seconds: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """A3/A9: histogram of gap sizes in units of the sampling interval."""
    return gap_histogram_from_lagged(
        _lagged(df, ts_col, partition_cols), ts_col, interval_seconds, partition_cols
    )


def gap_histogram_from_lagged(
    lagged: DataFrame,
    ts_col: str,
    interval_seconds: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """gap_histogram over a pre-built :func:`lagged_timestamps` frame."""
    gaps = lagged.withColumn(
        "n_intervals",
        F.expr(
            f"timestampdiff(MICROSECOND, prev_ts, {_sql_ident(ts_col)}) "
            f"div 1000000 div {interval_seconds}"
        ),
    ).filter(F.col("n_intervals") > 1)
    return gaps.groupBy(*partition_cols, "n_intervals").agg(
        F.count(F.lit(1)).alias("n_gaps")
    )
