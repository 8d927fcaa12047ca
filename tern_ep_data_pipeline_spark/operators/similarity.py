"""Similarity search over embedding columns (array<float>).

Beyond-reference operators for the training-data pipeline (driver mandate):

- brute-force cosine top-k: the exactness baseline. Dot products via
  ``zip_with`` + ``aggregate`` (JVM array expressions, no Python); the query
  side is broadcast, so the corpus is scanned once with no shuffle except
  the final per-query top-k.
- LSH-bucketed ANN: deterministic signed-random-projection buckets computed
  with hash-derived hyperplane signs (no RNG state, reproducible anywhere);
  candidates are ranked exactly within bucket. At 100 TB the bucket key
  becomes the partition/bucketing column so queries touch one bucket.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays (fold in double precision)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    ``queries`` is expected to be small (it is broadcast); output columns:
    (query_id, vec_id, cosine_sim) with self-matches excluded and a
    deterministic (rounded-sim, id) ordering for reproducible ties.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine_sim"),
    )
    scored = scored.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _plane_signs(plane: int, dims: int) -> list[float]:
    """Deterministic +-1 hyperplane components from md5(plane:dim) — no RNG
    state, reproducible across runs, processes, and cluster sizes."""
    import hashlib

    out = []
    for d in range(dims):
        h = hashlib.md5(f"{plane}:{d}".encode()).digest()
        out.append(1.0 if h[0] & 1 else -1.0)
    return out


def srp_bucket(vec_col: Column, dims: int, planes: int = 16) -> Column:
    """Signed-random-projection LSH bucket id (long) from ``planes`` bits.

    projection_p = sum_d sign(p,d) * vec[d] as a sequential ``aggregate``
    fold over a literal sign array — compact codegen (one fold per plane)
    and a deterministic summation order, so borderline vectors bucket
    identically on every run.
    """
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        signs = F.array(*[F.lit(s) for s in _plane_signs(p, dims)])
        proj = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, p))
    return bucket


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    planes: int = 8,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's SRP bucket.

    Recall tunes with ``planes`` (fewer planes -> bigger buckets -> higher
    recall, more compute). The corpus-side bucket id is computed once and at
    scale is the table's bucketing column, turning each query into a
    single-bucket scan.
    """
    cb = corpus.withColumn("__bucket", srp_bucket(F.col(vec_col), dims, planes))
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        srp_bucket(F.col(vec_col), dims, planes).alias("__bucket"),
    )
    scored = cb.join(F.broadcast(qb), on="__bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine_sim"),
    )
    scored = scored.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _near_dup_pairs_kernel(threshold: float):
    """Per-block pandas kernel for :func:`embedding_near_dup_pairs`:
    all-pairs cosine with the EXACT floating-point semantics of the JVM
    expression form (:func:`_near_dup_expr_pairs`, which takes the
    oversized blocks), so the two routes are value-identical by
    construction, not by luck —

    - elements widen to float64 first (``x.cast("double")``),
    - the dot/norm accumulate SEQUENTIALLY over dims in ascending order
      (the ``aggregate`` fold's order): one fused multiply-add per dim
      via ``acc += V[:, d] * W[:, d]``-style elementwise ops, never a
      BLAS GEMM (whose pairwise summation reorders the adds),
    - ``cosine = dot / (na * nb)`` with that exact operation order.

    Pairs whose raw cosine clears ``threshold - 1e-6`` are emitted; the
    caller re-applies the exact ``round(_, 6) >= threshold`` filter in
    the JVM, so the guard only bounds Arrow output volume. Vectors of
    unequal length pair to NULL under ``zip_with`` (dropped by the JVM
    filter), so the kernel computes within equal-length groups only.
    """
    guard = threshold - 1e-6

    def kern(pdf):
        out_a, out_b, out_raw = [], [], []
        ids_all = pdf["__id"]
        vecs = pdf["__v"]
        # drop null ids alongside null vectors (ADVICE r15): a null id
        # raises TypeError in the numpy ordering below, where the expr
        # form's id_a < id_b predicate silently filters it
        ok = vecs.notna() & ids_all.notna()
        lens = vecs[ok].map(len)
        for _L, sub in pdf[ok].groupby(lens, sort=False):
            sub = sub.sort_values("__id", kind="mergesort")
            n = len(sub)
            if n < 2:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in sub["__v"]])
            ids = sub["__id"].to_numpy()
            D = V.shape[1]
            acc = np.zeros(n)
            for d in range(D):
                acc += V[:, d] * V[:, d]
            nrm = np.sqrt(acc)
            # chunk rows so the (chunk x n) pair matrix stays ~16 MB
            chunk = max(1, min(n, 2_000_000 // max(n, 1)))
            with np.errstate(divide="ignore", invalid="ignore"):
                for i0 in range(0, n, chunk):
                    i1 = min(n, i0 + chunk)
                    dot = np.zeros((i1 - i0, n))
                    for d in range(D):
                        dot += np.multiply.outer(V[i0:i1, d], V[:, d])
                    cos = dot / np.multiply.outer(nrm[i0:i1], nrm)
                    ia, jb = np.nonzero(
                        (ids[i0:i1, None] < ids[None, :]) & (cos >= guard)
                    )
                    out_a.append(ids[i0:i1][ia])
                    out_b.append(ids[jb])
                    out_raw.append(cos[ia, jb])
        if out_a:
            return pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "__raw": np.concatenate(out_raw),
                }
            )
        return pd.DataFrame(
            {
                "id_a": ids_all.iloc[:0],
                "id_b": ids_all.iloc[:0],
                "__raw": pd.Series([], dtype="float64"),
            }
        )

    return kern


def _near_dup_expr_pairs(base: DataFrame) -> DataFrame:
    """Within-block all-pairs raw cosine of a ``(__block, __id, __v, __n)``
    frame via the JVM self-join/fold — the route
    :func:`embedding_near_dup_pairs` sends blocks past ``max_block_rows``
    through, because it streams and spills where the per-block kernel
    holds a whole block in memory. Emits (id_a, id_b, __raw); the caller
    applies the exact ``round(_, 6) >= threshold`` filter."""
    a = base.select(
        F.col("__block"), F.col("__id").alias("id_a"),
        F.col("__v").alias("va"), F.col("__n").alias("na"),
    )
    b = base.select(
        F.col("__block"), F.col("__id").alias("id_b"),
        F.col("__v").alias("vb"), F.col("__n").alias("nb"),
    )
    pairs = a.join(b, on="__block").filter(F.col("id_a") < F.col("id_b"))
    raw = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select("id_a", "id_b", raw.alias("__raw"))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    max_block_rows: int | None | str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    Within-block pairing (pass an LSH bucket / shard key at scale; an
    unblocked run is refused implicitly by requiring ``block_col`` for
    big inputs).

    One ``applyInPandas`` per block runs the all-pairs cosine as
    vectorised numpy with the JVM expression form's exact float
    semantics (see :func:`_near_dup_pairs_kernel`). It replaced a
    whole-frame ``aggregate``/``zip_with`` self-join, which paid ~D
    interpreted expression evaluations PER PAIR (measured r15: 2.3-3.4 s
    at sf0.1 = ~13M lambda steps) and shipped every vector twice.

    Degenerate inputs: rows with a NULL block key pair with nothing (the
    equi-join's semantics, enforced in the kernel route too), NULL ids
    and NULL vectors are dropped, and zero-norm vectors are filtered
    before pairing (cosine is undefined for them).

    ``max_block_rows`` (r16, VERDICT r15 #4) bounds the kernel's per-task
    memory on skewed blocks: a NARROW per-block count (only the block
    column is scanned) finds oversized block keys, which broadcast to an
    anti/semi split — blocks past the cap route through the expression
    self-join (:func:`_near_dup_expr_pairs`, which streams and spills)
    instead of materialising the whole block in one pandas group, the
    same oversized-bucket guard MinHash applies. Both routes produce the
    identical pair set (the kernel replays the fold's float semantics),
    so the split is invisible in the result (pinned in tests).

    ``'auto'`` (default) makes the guard SCALE-ADAPTIVE: the split's
    fixed cost is ~6 extra (empty) AQE stages — measured +0.37 s on the
    0.85 s sf0.1 bench query, pure scheduling, while at corpus scale it
    is noise — so the guard engages at 65,536 rows per block only when
    Catalyst's plan-time size estimate for the input exceeds 1 GiB (or
    is unavailable — unknown size fails toward memory safety), and
    stays out of small plans entirely. Pass an int to force the cap
    (``0`` sends every block through the expression route), or ``None``
    to disable (kernel only).
    """
    if max_block_rows == "auto":
        from .memguard import plan_size_estimate

        est = plan_size_estimate(df)
        max_block_rows = 65536 if (est is None or est > (1 << 30)) else None
    base = df.select(
        (F.col(block_col) if block_col else F.lit(0)).alias("__block"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    )
    if block_col:
        # the expression route's equi-join drops null block keys; groupBy
        # would keep a null group and silently pair those rows (ADVICE r15)
        base = base.where(F.col("__block").isNotNull())
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, __raw double"
    kern = _near_dup_pairs_kernel(threshold)
    if max_block_rows is None:
        out = base.groupBy("__block").applyInPandas(kern, schema=schema)
    else:
        # oversized-block keys via a NARROW count (only the block
        # column is scanned — column pruning reaches the parquet
        # scan), broadcast to an anti/semi split of the vector rows:
        # the vectors themselves are never shuffled or sorted for the
        # routing decision, only for the kernel's own group exchange
        over = (
            base.groupBy("__block")
            .agg(F.expr("count(1) AS __bn"))
            .where(F.col("__bn") > max_block_rows)
            .select("__block")
        )
        small = base.join(F.broadcast(over), on="__block", how="left_anti")
        out = small.groupBy("__block").applyInPandas(kern, schema=schema)
        big = (
            base.join(F.broadcast(over), on="__block", how="left_semi")
            .where(F.col("__v").isNotNull() & F.col("__id").isNotNull())
            .withColumn("__n", norm(F.col("__v")))
            .where(F.col("__n") != 0.0)
        )
        out = out.unionByName(_near_dup_expr_pairs(big))
    return (
        out.withColumn("cosine_sim", F.round(F.col("__raw"), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
    pairs_threshold: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): duplicates
    are detected only WITHIN a cluster of the embedding space, so the
    all-pairs cost is bounded by the largest cluster, not the corpus.

    ``pairs``: an existing :func:`embedding_near_dup_pairs` result computed
    at a LOOSER threshold — callers that already list pairs (a dedup report
    next to the keep/drop decision) filter it here instead of paying the
    within-cluster self-join twice; the rounded ``cosine_sim`` makes the
    re-threshold decision identical to a direct computation. Pass
    ``pairs_threshold`` (the threshold the pairs frame was computed at) so
    the looser-than requirement is ENFORCED: pairs from a stricter threshold
    are missing sub-threshold rows and would silently under-drop.

    Keep rule — deterministic and non-recursive by design: a vector is
    dropped iff ANY lower-id vector in the same cluster has cosine >= t
    (the rounded similarity, so the decision is engine-reproducible). This
    "dominated-by-earlier" rule drops at least as much as keep-one-per-
    connected-set and needs no iterative closure, so it is one blocked
    self-join + one anti-join semantics-wise.

    Output: one row per vector — ``(id, cluster, centroid_sim, is_kept)``
    with ``centroid_sim`` the rounded cosine to the cluster mean (the
    SemDeDup ranking signal, kept for callers that want a different
    representative policy).

    100 TB shape: cluster count must grow ~sqrt(N) (the SemDeDup recipe) so
    per-cluster membership stays bounded; the pairing is the per-cluster
    kernel of :func:`embedding_near_dup_pairs` (its ``max_block_rows``
    guard bounds an oversized cluster's memory), and centroids come from the tree-aggregated :func:`label_centroids` (no xD
    explode), broadcast back for the similarity projection.
    """
    if pairs is None:
        pairs = embedding_near_dup_pairs(
            df, id_col=id_col, vec_col=vec_col, block_col=cluster_col,
            threshold=threshold,
        )
    elif pairs_threshold is not None and pairs_threshold > threshold:
        raise ValueError(
            f"pairs were computed at threshold={pairs_threshold}, stricter "
            f"than the requested {threshold}: sub-threshold pairs are absent "
            "and the result would silently under-drop. Recompute pairs at a "
            "threshold <= the requested one."
        )
    dropped = (
        pairs.where(F.col("cosine_sim") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    cents = label_centroids(df, label_col=cluster_col, vec_col=vec_col)
    base = df.select(id_col, cluster_col, vec_col).join(
        F.broadcast(cents), on=cluster_col
    )
    csim = F.round(
        dot(F.col(vec_col), F.col("centroid"))
        / (norm(F.col(vec_col)) * norm(F.col("centroid"))),
        6,
    )
    # shuffle-hash, not sort-merge: the dropped set is corpus-sized in a
    # boilerplate-heavy corpus (too big to broadcast) but the join key is a
    # single id — hashing beats sorting both sides
    return (
        base.join(
            dropped.withColumn("__drop", F.lit(True)).hint("shuffle_hash"),
            on=id_col,
            how="left",
        )
        .select(
            F.col(id_col),
            F.col(cluster_col),
            csim.alias("centroid_sim"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )


def kmeans_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    seed: int = 42,
    max_iter: int = 20,
    out_col: str = "cluster",
) -> DataFrame:
    """Cluster embeddings with MLlib k-means (k-means|| init, seeded) —
    the coarse-partitioning step SemDeDup and IVF need when no label
    column exists. Returns the input plus ``out_col``.

    Scale shape: MLlib's Lloyd iterations are treeAggregate passes with
    O(k·D) driver state; assignment is a map-only transform. Choose
    k ~ sqrt(N) for SemDeDup so per-cluster membership stays bounded.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__fv", array_to_vector(F.col(vec_col)))
    model = KMeans(
        featuresCol="__fv", predictionCol=out_col, k=k, seed=seed,
        maxIter=max_iter,
    ).fit(feat)
    return model.transform(feat).drop("__fv")


def semantic_dedup_auto(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    threshold: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup end to end for an unlabelled corpus: k-means coarse
    clustering (:func:`kmeans_clusters`) followed by within-cluster
    :func:`semantic_dedup`. Output: (id, cluster, centroid_sim, is_kept).
    """
    assigned = kmeans_clusters(
        df, id_col=id_col, vec_col=vec_col, k=k, seed=seed
    )
    return semantic_dedup(
        assigned, id_col=id_col, vec_col=vec_col, cluster_col="cluster",
        threshold=threshold,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_probe: int = 2,
    list_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: coarse lists + exact ranking within probed lists.

    The corpus is pre-assigned to inverted lists (``list_col`` — at scale a
    k-means assignment materialised as the table's partition/bucket column).
    Each query ranks the list centroids (tiny, broadcast) and probes the
    ``n_probe`` nearest lists, scanning only those partitions.
    """
    cents = label_centroids(corpus, list_col, vec_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    # probe ranking on the ROUNDED similarity (ties by list id): selection
    # becomes reproducible across engines/summation orders, which lets the
    # whole operator be SQL-oracle-checked instead of rows-only
    ranked = q.crossJoin(F.broadcast(cents)).select(
        F.col(query_id_col),
        F.col(list_col),
        F.col("__qv"),
        F.round(cosine(F.col("__qv"), F.col("centroid")), 6).alias("__csim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col(list_col).asc()
    )
    probes = (
        ranked.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= n_probe)
        .select(query_id_col, list_col, "__qv")
    )
    scored = corpus.join(F.broadcast(probes), on=list_col).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine_sim"),
    )
    scored = scored.filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivf_probes(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    list_col: str = "label",
    n_probe: int = 2,
) -> DataFrame:
    """``(query_id, list)``: the ``n_probe`` nearest inverted lists per
    query, ranked on the ROUNDED centroid cosine with ties broken by list
    id — the deterministic coarse stage of IVF search. Rounding makes the
    list choice reproducible across engines/summation orders (same
    discipline as :func:`ivf_topk`), which is what lets the coarse stage
    be SQL-oracle-checked even when downstream PQ codebooks cannot be."""
    cents = label_centroids(corpus, list_col, vec_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    ranked = q.crossJoin(F.broadcast(cents)).select(
        F.col(query_id_col),
        F.col(list_col),
        F.round(cosine(F.col("__qv"), F.col("centroid")), 6).alias("__csim"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("__csim").desc(), F.col(list_col).asc()
    )
    return (
        ranked.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= n_probe)
        .select(query_id_col, list_col)
    )


def ivf_probe_members(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    list_col: str = "label",
    n_probe: int = 2,
) -> DataFrame:
    """``(query_id, list, id)``: every corpus vector in a query's probed
    lists — the exact candidate set :func:`ivf_pq_topk` feeds to ADC,
    exposed as a deterministic integer projection. The PQ stages (float
    k-means codebooks, ADC distances) are not SQL-reproducible; this
    membership set IS, so the oracle gate covers the coarse half of the
    IVF-PQ pipeline instead of leaving the whole query rows-only."""
    probes = ivf_probes(
        corpus, queries, vec_col, query_id_col, list_col, n_probe
    )
    return (
        corpus.select(id_col, list_col)
        .join(F.broadcast(probes), on=list_col)
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, list_col, id_col)
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid — the IVF coarse-quantiser building block.

    Tree-aggregate shape: phase 1 is a shuffle-free ``mapInPandas`` that
    numpy-sums vectors per (input partition, label), so the only shuffle
    carries ONE (count, sum-array) row per (partition, label); phase 2
    combines the partials with element-wise array expressions.

    The previous posexplode formulation fanned every vector x D rows into the
    shuffle — invisible at D=16, a ~768x row amplification at real embedding
    widths. Here shuffle bytes are ~(#partitions x #labels x D) doubles,
    independent of row count.

    Order-independence: double addition is not associative, so a float
    partial-sum combine would make the 6th decimal of a downstream rounded
    gate column depend on partition arrival order (the round-5 `doc_profile`
    flake class). Each component is quantised to an integer (1e9 — nano
    units) BEFORE the partial, summed exactly in int64, and divided once at
    the end — identical under any partitioning. 1e9 keeps a billion-vector
    label inside int64 for unit-scale embeddings.
    """
    label_type = df.schema[label_col].dataType.simpleString()
    out_schema = f"`{label_col}` {label_type}, __cnt BIGINT, __sum ARRAY<BIGINT>"

    # Malformed vectors fail LOUDLY here, not as an opaque mapInPandas
    # traceback (ADVICE r6 #5): a NaN/NULL component (or |v| > 9.2e9,
    # where the 1e9-scaled value overflows int64) would quantise to NULL
    # long and crash np.asarray inside the Arrow partial. raise_error
    # carries the label. (The docstring's billion-vector-per-label
    # headroom claim additionally assumes unit-scale embeddings; larger
    # magnitudes trade off against per-label row count.)
    def _q_comp(v):
        bad = v.isNull() | F.isnan(v.cast("double")) | (
            F.abs(v.cast("double")) > F.lit(9.0e9)
        )
        return F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit(
                        "label_centroids: non-finite or out-of-range "
                        "(|v| > 9e9) embedding component in label "
                    ),
                    F.col(label_col).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.round(v.cast("double") * F.lit(1.0e9)).cast("long"))

    qvec = (
        F.when(
            F.col(vec_col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit("label_centroids: NULL embedding vector in label "),
                    F.col(label_col).cast("string"),
                )
            ).cast("array<bigint>"),
        )
        .otherwise(F.transform(F.col(vec_col), _q_comp))
        .alias("__qv")
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}  # label -> [count, int64 sum ndarray]
        for pdf in batches:
            for lab, grp in pdf.groupby(label_col, dropna=False)["__qv"]:
                stacked = np.stack([np.asarray(v, dtype=np.int64) for v in grp])
                entry = acc.get(lab)
                if entry is None:
                    acc[lab] = [len(grp), stacked.sum(axis=0, dtype=np.int64)]
                else:
                    entry[0] += len(grp)
                    entry[1] += stacked.sum(axis=0, dtype=np.int64)
        if acc:
            yield pd.DataFrame(
                {
                    label_col: list(acc.keys()),
                    "__cnt": [e[0] for e in acc.values()],
                    "__sum": [e[1].tolist() for e in acc.values()],
                }
            )

    partial = df.select(F.col(label_col), qvec).mapInPandas(partials, schema=out_schema)
    combined = partial.groupBy(label_col).agg(
        F.sum("__cnt").alias("__n"),
        F.collect_list("__sum").alias("__sums"),
    )
    zero = F.array_repeat(F.lit(0).cast("long"), F.size(F.element_at("__sums", 1)))
    total = F.aggregate(
        F.col("__sums"), zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    return combined.select(
        F.col(label_col),
        F.transform(
            total, lambda s: s.cast("double") / F.lit(1.0e9) / F.col("__n")
        ).alias("centroid"),
    )


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k.

    The evaluation harness every approximate index needs before it
    replaces the brute-force path: recall@k = |approx ∩ exact| / |exact|,
    computed with one semi-join and one aggregation — run it on a hash
    sample of queries at scale, not the full query log.
    Output: (query_id, n_exact, n_hit, recall).
    """
    e = exact.select(query_id_col, id_col)
    hits = e.join(
        approx.select(query_id_col, id_col), on=[query_id_col, id_col], how="left_semi"
    )
    n_exact = e.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, on=query_id_col, how="left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn(
            "recall", F.round(F.col("n_hit") / F.col("n_exact"), 6)
        )
    )


# ---------------------------------------------------------- product quant

#: Conservative stored-bytes-per-row multiplier (x 8d raw vector bytes)
#: for sizing pq_train's hash-range pre-filter from byte statistics —
#: underestimating the row count only widens the range (see pq_train).
_VEC_ROW_BYTES_UPPER_MULT = 16

def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    sample: int = 50_000,
) -> np.ndarray:
    """Train product-quantisation codebooks: split D dims into ``m``
    subvectors, k-means each subspace to ``k`` codewords.

    Returns ``(m, k, D/m)`` float64 codebooks. Training pulls a
    deterministic hash-sample of at most ``sample`` vectors to the driver
    (PQ codebooks need thousands of training points, not the corpus —
    FAISS trains on ~100k vectors for billion-scale indexes) and runs
    Lloyd iterations in numpy. Everything is deterministic: the sample is
    md5-ordered, init takes the first ``k`` sampled points per subspace,
    empty clusters keep their previous centroid.

    Scale note: ``orderBy(md5).limit(n)`` compiles to
    TakeOrderedAndProject — a per-partition top-n, NOT a full corpus
    sort. But its single merge task still streams up to ``sample``
    VECTORS from every map partition (fat rows times 1e5 partitions at
    corpus scale), so when the corpus plausibly exceeds the cap the
    sample is pre-filtered to the md5 prefix range expected to hold
    ~1.2x the cap first (map-only). One Spark job (VERDICT r9 #6): the
    range is sized from the optimizer's byte statistics
    (``sampling.scan_rows_lower_bound`` with a ``16 * 8d``-bytes/row
    bound — no corpus ``count()``), deliberately underestimating the
    row count so the range only errs wide; if it still comes back with
    fewer than ``sample`` rows, one fallback top-k over the full hash
    order restores exactness. Either way the trained sample is the
    global top-``sample`` by md5 — codebooks are unchanged by the
    estimate's accuracy.
    """
    from .sampling import scan_rows_lower_bound

    d = len(corpus.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    sampled = corpus.select(
        F.md5(F.col(id_col).cast("string")).alias("__o"), F.col(vec_col)
    )
    est = scan_rows_lower_bound(corpus, _VEC_ROW_BYTES_UPPER_MULT * 8 * d)
    frac = min(1.0, 1.2 * sample / est)
    if frac < 1.0:
        # fixed-width lowercase hex compares lexicographically as the
        # number it encodes: an 8-hex-char prefix cutoff is a uniform
        # threshold over the md5 space
        cutoff = format(min(16**8 - 1, int(frac * 16**8) + 1), "08x")
        ranged = sampled.where(F.substring("__o", 1, 8) < F.lit(cutoff))
        rows = ranged.orderBy("__o").limit(sample).collect()
        if len(rows) < sample:
            _log.warning(
                "pq_train: md5 range (frac=%.3g from est=%d rows) held "
                "only %d of %d sample vectors; running the unguarded "
                "exact top-k fallback",
                frac, est, len(rows), sample,
            )
            rows = sampled.orderBy("__o").limit(sample).collect()
    else:
        rows = sampled.orderBy("__o").limit(sample).collect()
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    if len(x) < k:
        raise ValueError(
            f"PQ training needs >= k={k} vectors, sample has {len(x)}"
        )
    sub = d // m
    books = np.empty((m, k, sub))
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        cents = xj[:k].copy()
        for _ in range(iters):
            d2 = ((xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                pts = xj[assign == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codeword ids (array<int>) — the compact
    representation the 100 TB index stores: D floats collapse to m bytes
    (+ id), a 32-64x footprint cut at typical settings.

    The codebook broadcast rides the Arrow closure; encoding is a
    vectorised numpy argmin per subspace over ``mapInPandas`` batches.
    """
    m, k, sub = codebooks.shape
    books = codebooks.copy()

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xj = x[:, j * sub : (j + 1) * sub]
                d2 = ((xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "pq_code": list(codes)})

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, pq_code array<int>"
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): each query builds an
    ``(m, k)`` lookup table of exact subspace distances to every codeword,
    then scores each code row with ``m`` table gathers — no decode, no
    float vectors in the scan. Output: (query_id, vec_id, adc_dist, rank).

    The scan stays embarrassingly parallel (codes + broadcast tables);
    the only shuffle is the final per-query top-k.
    """
    m, kk, sub = codebooks.shape
    books = codebooks.copy()
    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[query_id_col] for r in q_rows])
    qv = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    # (n_q, m, k) distance tables
    tables = np.empty((len(qids), m, kk))
    for j in range(m):
        qj = qv[:, j * sub : (j + 1) * sub]
        tables[:, j, :] = (
            (qj[:, None, :] - books[j][None, :, :]) ** 2
        ).sum(axis=2)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c = np.array(list(pdf["pq_code"]), dtype=np.int64)  # (n, m)
            n = len(c)
            out_ids, out_qids, out_d = [], [], []
            for qi in range(len(qids)):
                # gather: dist[i] = sum_j tables[qi, j, c[i, j]]
                dist = tables[qi][np.arange(m)[None, :], c].sum(axis=1)
                out_ids.append(pdf[id_col].to_numpy())
                out_qids.append(np.full(n, qids[qi]))
                out_d.append(np.round(dist, 6))
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_qids),
                    id_col: np.concatenate(out_ids),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    scored = codes.mapInPandas(
        score, schema=f"{query_id_col} long, {id_col} long, adc_dist double"
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_topk_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """The production PQ pattern: ADC shortlist over compact codes, then
    exact euclidean re-rank of only the shortlist against the full
    vectors. Quantisation error stops mattering once the true neighbours
    merely LAND in the shortlist (measured here: recall@10 0.24 raw ADC
    -> 0.8 with a 100-vector shortlist on the driver embeddings), while
    the full-vector table is touched for shortlist rows per query, not
    the corpus. Output: (query_id, vec_id, dist, rank).
    """
    short = pq_topk(
        codes, codebooks, queries, id_col, vec_col, query_id_col, k=shortlist
    ).select(query_id_col, id_col)
    cand = short.join(corpus.select(id_col, vec_col), on=id_col)
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    )
    scored = cand.join(F.broadcast(q), cand[query_id_col] == q["__qid"])
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("__qv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = scored.select(
        query_id_col, id_col, F.round(d2, 6).alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk(
    corpus: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    list_col: str = "label",
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 100,
) -> DataFrame:
    """IVF-PQ: the billion-scale composition — coarse inverted lists prune
    the corpus to ``n_probe`` partitions, PQ codes make the scan of those
    partitions byte-cheap (ADC shortlist), and an exact re-rank of the
    shortlist restores recall.

    At 100 TB the corpus is stored partitioned by ``list_col`` with
    ``pq_code`` as a column, so the probe is partition pruning and the
    full ``vec_col`` is only read for shortlist rows. Output:
    (query_id, vec_id, dist, rank).
    """
    # coarse stage shared with ivf_probe_members (rounded centroid cosine,
    # ties by list id) so the oracle-gated membership projection verifies
    # the EXACT candidate selection this pipeline runs
    probes = ivf_probes(corpus, queries, vec_col, query_id_col, list_col, n_probe)
    # lists any query probes; at scale this is the partition-pruning filter
    probed_lists = probes.select(list_col).distinct()
    probed = corpus.join(F.broadcast(probed_lists), on=list_col)

    # Candidates are restricted to each query's OWN probed lists BEFORE
    # the ADC ranking — ranking first over the union of all queries' lists
    # and filtering after would silently shrink the per-query shortlist
    # (and waste ADC work scoring other queries' lists).
    codes = pq_encode(probed, codebooks, id_col, vec_col)
    cand = codes.join(corpus.select(id_col, list_col), on=id_col).join(
        F.broadcast(probes), on=list_col
    )

    m, kk, sub = codebooks.shape
    books = codebooks.copy()
    q_rows = queries.select(query_id_col, vec_col).collect()
    tables_by_qid: dict = {}
    for r in q_rows:
        qv_arr = np.array(r[vec_col], dtype=np.float64)
        t = np.empty((m, kk))
        for j in range(m):
            qj = qv_arr[j * sub : (j + 1) * sub]
            t[j, :] = ((qj[None, :] - books[j]) ** 2).sum(axis=1)
        tables_by_qid[r[query_id_col]] = t

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(list(pdf["pq_code"]), dtype=np.int64)
            qids = pdf[query_id_col].to_numpy()
            out = np.empty(len(c))
            for qid in pd.unique(qids):
                mask = qids == qid
                t = tables_by_qid[qid]
                out[mask] = t[np.arange(m)[None, :], c[mask]].sum(axis=1)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "adc_dist": np.round(out, 6),
                }
            )

    scored_codes = cand.select(query_id_col, id_col, "pq_code").mapInPandas(
        adc, schema=f"{query_id_col} long, {id_col} long, adc_dist double"
    ).filter(F.col(query_id_col) != F.col(id_col))
    ws = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    shortlisted = (
        scored_codes.withColumn("__rk", F.row_number().over(ws))
        .filter(F.col("__rk") <= shortlist)
        .select(query_id_col, id_col)
    )

    qv = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qv2")
    )
    full = shortlisted.join(corpus.select(id_col, vec_col), on=id_col).join(
        F.broadcast(qv), F.col(query_id_col) == F.col("__qid")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("__qv2"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = full.select(query_id_col, id_col, F.round(d2, 6).alias("dist"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
