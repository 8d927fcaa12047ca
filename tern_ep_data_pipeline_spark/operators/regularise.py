"""Time-grid regularisation and interval inference.

Parity targets:
- W3 ``resample(intvl).asfreq()`` — snap data to a monotonic grid *inserting
  null rows, no aggregation* (ref file_handler.py:98-107). Spark shape:
  ``sequence(min, max, interval)`` -> ``explode`` -> **left join** data onto
  the grid. Timestamps are already on-grid after conditioning, so the join is
  an exact equi-join on the timestamp.
- A1 interval inference: successive timestamp deltas; min delta must equal
  modal delta (ref file_io.py:1063-1088).

Scale note: the grid explode is one row per interval — tiny relative to data —
and the join is an equi-join on the time key that AQE can plan as broadcast
(grid side is small for any sane date range). Per-site grids partition
naturally by the site key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _sql_ident


def infer_interval_seconds(df: DataFrame, ts_col: str, partition_cols: Sequence[str] = ()) -> DataFrame:
    """A1: per-partition (min, modal) successive-delta in seconds.

    Returns one row per partition with ``min_delta_s``, ``mode_delta_s`` and
    ``n_deltas``; the reference raises unless min == mode
    (file_io.py:1079-1087) — callers assert on the returned frame.
    """
    # The lag goes through gaps._lagged: per-key window when keys are given,
    # range-partitioned + boundary-repaired when inferring over the global
    # time axis (never a single-task global sort).
    from .gaps import _lagged

    deltas = (
        _lagged(df, ts_col, partition_cols)
        .withColumn(
            "__delta_s",
            F.expr(
                f"timestampdiff(MICROSECOND, prev_ts, {_sql_ident(ts_col)}) div 1000000"
            ),
        )
        .filter(F.col("__delta_s").isNotNull())
    )
    counted = deltas.groupBy(*partition_cols, "__delta_s").agg(F.count(F.lit(1)).alias("__n"))
    agg_cols = [
        F.min("__delta_s").alias("min_delta_s"),
        F.max_by("__delta_s", F.struct(F.col("__n"), (-F.col("__delta_s")))).alias("mode_delta_s"),
        F.sum("__n").alias("n_deltas"),
    ]
    if partition_cols:
        return counted.groupBy(*partition_cols).agg(*agg_cols)
    return counted.groupBy().agg(*agg_cols)


def time_grid(
    spark_df: DataFrame,
    ts_col: str,
    interval: str,
    truncate_to: str | None = None,
) -> DataFrame:
    """Build the dense timestamp grid spanning the data's [min, max].

    ``interval`` is a SQL interval literal body, e.g. ``'1 hour'``;
    ``truncate_to`` optionally date_truncs the bounds first (e.g. 'hour').
    Returns a single-column DataFrame named ``ts_col``.
    """
    ts = _sql_ident(ts_col)
    lo, hi = f"min({ts})", f"max({ts})"
    if truncate_to:
        lo, hi = f"date_trunc('{truncate_to}', {lo})", f"date_trunc('{truncate_to}', {hi})"
    bounds = spark_df.select(
        F.expr(lo).alias("__lo"), F.expr(hi).alias("__hi")
    )
    return bounds.select(
        F.explode(F.expr(f"sequence(__lo, __hi, interval {interval})")).alias(ts_col)
    )


def regularise_to_grid(
    df: DataFrame,
    ts_col: str,
    interval: str,
    truncate_to: str | None = None,
) -> DataFrame:
    """W3: left-join data onto its dense grid, null rows where missing.

    Preserves column types (incl. nullable longs — SURVEY.md §7.4's Int64
    concern is a non-issue in Spark where every column is nullable).
    """
    grid = time_grid(df, ts_col, interval, truncate_to=truncate_to)
    return grid.join(df, on=ts_col, how="left")
