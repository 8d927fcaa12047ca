"""Window / time-series operators.

Parity targets (SURVEY.md §2.5):
- W1 lag-difference storage term (profile_data_processor.py:134-148):
  ``col - lag(col)`` per series, scaled by layer depth / period.
- A4 diel (time-of-day) mean (:158-168): groupBy(hour, minute).
- W6 fixed tumbling blocks (fast_file_io.py:471-519): 30-min block
  assignment of high-rate data; in Spark a ``date_trunc``-arithmetic bucket
  (kept as explicit arithmetic rather than F.window so the same expression
  text works against SQL oracles).
- W4 trailing-24 h validity fraction (network_status.py:543-546).

Scale note: every window here partitions by an entity key; the tumbling
bucket is a pure projection (no shuffle) and becomes the partition column of
the 100 TB fast-data write path. The unkeyed ``lag_diff`` path does NOT use
a global-orderBy window (single-task sort): it range-partitions by
timestamp, lags within each range, and repairs the first row of each range
from the previous non-empty range's last value — every stage parallel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _sql_ident


def lag_diff(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    partition_cols: Sequence[str] = (),
    out_col: str = "delta",
    scale: float = 1.0,
) -> DataFrame:
    """W1: per-series difference vs previous record (storage-flux shape)."""
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(ts_col)
        return df.withColumn(
            out_col, (F.col(value_col) - F.lag(value_col).over(w)) * F.lit(scale)
        )
    return _lag_diff_global(df, value_col, ts_col, out_col, scale)


def _lag_diff_global(
    df: DataFrame, value_col: str, ts_col: str, out_col: str, scale: float
) -> DataFrame:
    """Distributed lag-difference over a single global time axis.

    Range-partition by timestamp (range ordering makes partition id order ==
    time order), lag within each partition, then patch each partition's
    first row with the previous non-empty partition's last value, taken from
    a one-row-per-partition aggregate lagged on the (tiny) bounds frame.
    The global first row keeps a null lag, as a plain window would give.
    """
    cols = df.columns
    ranged = df.repartitionByRange(F.col(ts_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(ts_col)
    inner = ranged.withColumn("__prev", F.lag(value_col).over(w)).withColumn(
        "__rn", F.row_number().over(w)
    )
    # struct max orders by ts first; carries the value even when it is null
    bounds = ranged.groupBy("__pid").agg(
        F.max(F.struct(F.col(ts_col).alias("t"), F.col(value_col).alias("v"))).alias(
            "__m"
        )
    )
    bw = Window.orderBy("__pid")  # one row per partition — tiny
    prev_last = bounds.select(
        "__pid", F.lag(F.col("__m").getField("v")).over(bw).alias("__prev_last")
    )
    patched = inner.join(F.broadcast(prev_last), on="__pid", how="left")
    prev = F.when(F.col("__rn") == 1, F.col("__prev_last")).otherwise(F.col("__prev"))
    return patched.select(
        *cols, ((F.col(value_col) - prev) * F.lit(scale)).alias(out_col)
    )


def tumbling_bucket(ts_col: str, minutes: int) -> Column:
    """W6: start-of-block timestamp for a fixed N-minute tumbling window.

    Pure arithmetic (no shuffle): truncate to the hour then add back the
    floored minute block. Matches DuckDB ``time_bucket`` for divisors of 60.
    """
    if minutes <= 0 or 60 % minutes:
        raise ValueError(f"bucket must divide the hour, got {minutes} minutes")
    ts = _sql_ident(ts_col)
    return F.expr(
        f"timestampadd(MINUTE, {minutes} * (minute({ts}) div {minutes}), "
        f"date_trunc('hour', {ts}))"
    )


def trailing_validity_fraction(
    df: DataFrame,
    ts_col: str,
    valid_col: Column,
    window_seconds: int = 86400,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """W4: fraction of valid records in the trailing window ending at each
    partition's max timestamp (ref network_status.py:543-546).

    Implemented as two aggregates with a broadcast join of the tiny
    per-partition max (no range-frame window): compare each record's
    timestamp against its partition's max.
    """
    gb = df.groupBy(*partition_cols) if partition_cols else df.groupBy()
    maxes = gb.agg(F.max(ts_col).alias("last_ts"))
    joined = (
        df.join(F.broadcast(maxes), on=list(partition_cols), how="inner")
        if partition_cols
        else df.crossJoin(F.broadcast(maxes))
    )
    in_window = (
        F.expr(f"timestampdiff(MICROSECOND, {_sql_ident(ts_col)}, last_ts)")
        <= window_seconds * 1_000_000
    )
    gb2 = (
        joined.groupBy(*partition_cols) if partition_cols else joined.groupBy()
    )
    return gb2.agg(
        F.max(ts_col).alias("last_ts"),
        F.round(
            F.avg(F.when(in_window, valid_col.cast("double"))), 6
        ).alias("trailing_valid_frac"),
    )
