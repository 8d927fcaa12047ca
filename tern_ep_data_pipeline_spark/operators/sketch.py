"""Portable cardinality sketch: K-minimum-values (KMV) distinct estimation.

Spark's ``approx_count_distinct`` (HyperLogLog++) is the production >TB
tool, but its register layout is engine-specific — no SQL oracle can
reproduce it bit-for-bit. KMV (Bar-Yossef et al.) is the *verifiable*
sketch: hash every value to a uniform integer, keep the k smallest
distinct hashes, and estimate ``D ≈ (k-1) / u_(k)`` where ``u_(k)`` is
the k-th smallest hash normalised to [0, 1). With the engine's portable
md5 hash the whole estimator is plain relational algebra, so the SAME
estimate — including its error against the exact count — reproduces in
any SQL engine. The role mirrors the dedup operators' ``portable`` hash
mode: HLL for production scans, KMV as the oracle-checkable twin.

KMV sketches are also mergeable (union the k-smallest sets, re-take the
k smallest), which is what makes them partition-friendly at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import _sql_ident, _sql_str

#: Hash domain: first 15 hex chars of md5 = 60 bits.
_KMV_DOMAIN = float(1 << 60)


def portable_hash_sql(col_sql: str, salt: str = "kmv") -> str:
    """Uniform 60-bit integer from md5(salt:value), as a SQL expression —
    the construction the portable MinHash/sampling paths use;
    reproducible in any engine. ``col_sql`` must be an atomic or
    parenthesized SQL expression (quote a column name with
    ``text._sql_ident``); wrap in ``F.expr`` where a Column is needed."""
    return (
        f"CAST(conv(substring(md5(concat({_sql_str(salt + ':')}, "
        f"CAST({col_sql} AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV distinct-count estimate with its exact comparison.

    Output: group cols + ``kmv_estimate`` (double), ``exact_distinct``,
    ``rel_error`` (rounded; 0.0 whenever the group has fewer than ``k``
    distinct values — the sketch then degenerates to exact counting, the
    standard KMV small-cardinality behaviour).

    Shape: the ranking window runs over the DISTINCT (group, hash) set —
    the same stream an HLL would absorb; use HLL for latency-critical
    production scans and this operator when the estimate must be
    verifiable.
    """
    # NULLs are excluded (count-distinct semantics), and excluding them
    # also keeps the rank window engine-portable: Spark sorts NULLS FIRST,
    # ANSI engines NULLS LAST — a NULL hash would shift which value lands
    # at rank k and silently break oracle parity.
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.expr(portable_hash_sql(_sql_ident(value_col), salt)).alias("__hv"),
        )
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("__hv")
    ranked = hashed.withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("exact_distinct"),
        F.max(F.when(F.col("__rn") == k, F.col("__hv"))).alias("__hk"),
    )
    est = F.when(
        F.col("__hk").isNotNull(),
        F.round(F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("__hk"), 4),
    ).otherwise(F.col("exact_distinct").cast("double"))
    out = agg.withColumn("kmv_estimate", est).withColumn(
        "rel_error",
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ),
    )
    return out.select(*group_cols, "kmv_estimate", "exact_distinct", "rel_error")


def sampled_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float] = (0.5, 0.95),
    fraction: float = 0.1,
    key_col: str | None = None,
    salt: str = "qs",
) -> DataFrame:
    """Verifiable approximate quantiles: exact percentile over a
    deterministic hash sample — the portable twin of
    ``approx_percentile`` (whose KLL/GK sketch internals are
    engine-specific). The sample is keyed on ``key_col`` (default: the
    value itself), so reruns and other engines select the identical rows
    and compute the identical estimate.

    Output: group cols + one ``q_<pct>`` column per requested quantile.
    """
    key = portable_hash_sql(_sql_ident(key_col or value_col), salt)
    cut = int(round(fraction * 10_000))
    sampled = df.where(F.expr(f"({key} % 10000) < {cut}"))
    aggs = [
        F.expr(f"percentile({_sql_ident(value_col)}, {q})").alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return sampled.groupBy(*group_cols).agg(*aggs)
