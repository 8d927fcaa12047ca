"""Model-based document quality filtering (pyspark.ml).

The classifier stage of a training-data curation pipeline: heuristic
signals (``operators/text.py``) give weak labels or features, a logistic
model turns them into a calibrated keep-probability, and the corpus is
filtered by threshold — the CCNet / GPT-3-WebText recipe (a linear
classifier over cheap features; fastText-shaped when the features are
hashed bag-of-words).

Two feature paths, both ending in ``pyspark.ml.classification.LogisticRegression``:

- :func:`heuristic_pipeline`: the numeric quality signals (stopword /
  punctuation / digit ratios, token stats) assembled into a dense vector —
  8 features, interpretable, trains in two passes.
- :func:`text_hash_pipeline`: ``Tokenizer -> HashingTF -> IDF`` hashed
  bag-of-words — the fastText shape for when token identity matters.

100 TB design: both featurizers are map-only (no shuffle); LR training is
L-BFGS over ``treeAggregate`` gradient partials — per-iteration cost is
one pass, driver state is O(#features), so the hashed path sizes its
feature dim (default 2^18) to keep the coefficient vector broadcast-able.
Scoring (:func:`score_quality`) is a map-only transform.

MLlib randomness: LR with a fixed problem is deterministic up to float
summation order; tests therefore pin RANKINGS (every good doc above every
bad doc), not raw probabilities.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import (
    IDF,
    HashingTF,
    RegexTokenizer,
    StandardScaler,
    VectorAssembler,
)
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

#: Conservative upper bound on stored bytes per document row, used to
#: size the sampler's hash-range pre-filter from byte statistics alone
#: (underestimating the row count only widens the range — see
#: collect_feature_sample).
_TEXT_ROW_BYTES_UPPER = 64 << 10

#: Numeric heuristic signals fed to the interpretable model.
HEURISTIC_FEATURES = (
    "stopword_ratio",
    "punct_ratio",
    "digit_ratio",
    "upper_ratio",
    "n_tokens",
    "avg_token_len",
)


def heuristic_feature_frame(
    df: DataFrame, id_col: str, text_col: str, micro: bool = False
) -> DataFrame:
    """The cheap per-document signals as ONE map-only projection
    (id, <HEURISTIC_FEATURES...>) — all JVM expressions, no Python, no
    join (r7: the former quality+token frame join collapsed into a fused
    select; every signal is row-local). ``micro=True`` emits the
    engine-portable integer contract (``*_micro`` BIGINT columns) used by
    the oracle gate.

    The non-micro (double) branch routes through :func:`_feature_exprs`,
    so null / empty / whitespace-only text yields 0.0 features instead of
    NULLs — keeping :func:`score_quality_weights` and the ml-pipeline
    scorer NULL-free on junk rows, same tolerance as the trainer and the
    inline predicate (ADVICE r8 #1 / r9 completion). The micro branch
    stays on the RAW builders deliberately: it is the portable integer
    contract hash-pinned against the DuckDB oracle SQL, whose expressions
    carry the same NULL semantics."""
    from .text import _sql_ident, quality_ratio_sqls, token_stat_sqls

    if micro:
        t = _sql_ident(text_col)
        return df.selectExpr(
            _sql_ident(id_col),
            *quality_ratio_sqls(t, micro=True),
            # n_tokens and avg_token_len_micro
            *token_stat_sqls(t, micro=True)[1:],
        )
    return df.select(F.col(id_col), *_feature_exprs(text_col))


def heuristic_pipeline(label_col: str = "label") -> Pipeline:
    """Assemble HEURISTIC_FEATURES -> scale -> logistic regression."""
    return Pipeline(
        stages=[
            VectorAssembler(
                inputCols=list(HEURISTIC_FEATURES),
                outputCol="__feat_raw",
                handleInvalid="keep",
            ),
            StandardScaler(inputCol="__feat_raw", outputCol="features"),
            LogisticRegression(
                featuresCol="features",
                labelCol=label_col,
                maxIter=50,
                regParam=0.01,
                standardization=False,
            ),
        ]
    )


def text_hash_pipeline(
    text_col: str = "text", label_col: str = "label", num_features: int = 1 << 18
) -> Pipeline:
    """Hashed bag-of-words logistic model (fastText shape): tokenizer and
    HashingTF are map-only; ``num_features`` bounds driver/broadcast state."""
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol=text_col, outputCol="__toks", pattern=r"\s+"
            ),
            HashingTF(
                inputCol="__toks", outputCol="__tf", numFeatures=num_features
            ),
            IDF(inputCol="__tf", outputCol="features"),
            LogisticRegression(
                featuresCol="features", labelCol=label_col, maxIter=30,
                regParam=0.001,
            ),
        ]
    )


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
    mode: str = "heuristic",
) -> PipelineModel:
    """Fit a quality model on labelled documents.

    ``mode='heuristic'`` trains on the numeric signal vector (features are
    built here from the raw text); ``mode='text'`` trains the hashed
    bag-of-words model directly on ``text_col``.
    """
    if mode == "heuristic":
        feats = heuristic_feature_frame(df, id_col, text_col)
        # persist: assembler/scaler/LR each pass over the training frame,
        # and the heuristic join is ~6 aggregation branches deep
        train = df.select(id_col, label_col).join(feats, on=id_col).persist()
        try:
            return heuristic_pipeline(label_col).fit(train)
        finally:
            train.unpersist()
    if mode == "text":
        return text_hash_pipeline(text_col, label_col).fit(df)
    raise ValueError(f"unknown mode: {mode!r}")


def score_quality(
    model: PipelineModel,
    df: DataFrame,
    id_col: str,
    text_col: str,
    mode: str = "heuristic",
) -> DataFrame:
    """Map-only scoring: (id, quality_prob) — P(label=1) per document."""
    if mode == "heuristic":
        scored = model.transform(heuristic_feature_frame(df, id_col, text_col))
    else:
        scored = model.transform(df)
    # probability is a Vector UDT; element 1 is P(keep)
    from pyspark.ml.functions import vector_to_array

    return scored.select(
        F.col(id_col),
        F.element_at(vector_to_array("probability"), 2).alias("quality_prob"),
    )


def quality_filter(
    model: PipelineModel,
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    mode: str = "heuristic",
) -> DataFrame:
    """Keep documents the model scores above ``threshold`` (left-semi join
    back to the full rows, so the corpus columns pass through untouched)."""
    keep = (
        score_quality(model, df, id_col, text_col, mode=mode)
        .where(F.col("quality_prob") >= threshold)
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def _feature_exprs(text_col: str) -> list:
    """The HEURISTIC_FEATURES as column expressions over the text column
    ``text_col``, in registry order — composable into fused projections and
    filter predicates without materialising a feature frame.

    Every expression coalesces to 0.0: null / empty / whitespace-only
    text yields NULL ``n_tokens`` and ``avg_token_len`` from the raw
    builders, which would crash the driver fit (``float(None)``) and
    NULL out the inline keep-predicate so junk rows silently pass the
    filter. The ml pipeline tolerated such rows via
    ``VectorAssembler(handleInvalid='keep')``; the folded-expression
    paths get the same tolerance here, with 0.0 as the defined value
    (a no-signal document scores as all-zero features)."""
    from .text import (
        _sql_double,
        _sql_ident,
        _sql_token_count,
        quality_ratio_sqls,
        token_stat_sqls,
    )

    t = _sql_ident(text_col)
    named = [
        *quality_ratio_sqls(t),
        f"CAST({_sql_token_count(t)} AS DOUBLE) AS n_tokens",
        token_stat_sqls(t)[2],
    ]
    zero = _sql_double(0.0)
    return [
        # each builder string ends in " AS <name>"; the body is re-aliased
        # to the registry name around the coalesce
        F.expr(f"coalesce({sql.rsplit(' AS ', 1)[0]}, {zero}) AS {name}")
        for sql, name in zip(named, HEURISTIC_FEATURES)
    ]


def collect_feature_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sample_rows: int = 100_000,
    lead_cols: tuple = (),
) -> list:
    """Bounded DETERMINISTIC sample of (``lead_cols...``,
    HEURISTIC_FEATURES...) rows, collected to the driver in one fused
    row-local projection (no feature-frame join — every signal derives
    from the row's own text).

    Scale shape: a bare ``orderBy(h).limit(k)`` is a TakeOrdered whose
    single merge task streams up to k rows FROM EVERY map partition —
    at 100 TB (~1e5 partitions) that is 1e10 rows through one reducer.
    When the corpus plausibly exceeds the cap, pre-filter to the hash
    range expected to hold ~1.2x the cap (map-only, prunes at the scan)
    BEFORE the top-k — the merge task then streams a corpus-size-
    independent row count.

    One Spark job (VERDICT r9 #6): the range is sized from the
    optimizer's byte statistics (:func:`sampling.scan_rows_lower_bound`
    — plan-time, no corpus ``count()``), deliberately UNDERESTIMATING
    the row count so the range only ever errs wide (funnel inflated by
    ``row-bytes-upper / true-avg``, still independent of corpus size).
    If rows are fatter than the 64 KiB/row bound and the range comes
    back short, one fallback top-k over the full hash order restores
    exactness. The result is ALWAYS the global top-``sample_rows`` by
    ``xxhash64(id)`` (all rows, hash-sorted, when the corpus is
    smaller) — deterministic across runs, cluster layouts, and the
    estimate's accuracy."""
    from .sampling import scan_rows_lower_bound

    base = df.select(
        *[F.col(c) for c in lead_cols],
        F.xxhash64(F.col(id_col)).alias("__h"),
        *_feature_exprs(text_col),
    )
    out_cols = [*lead_cols, *HEURISTIC_FEATURES]
    est = scan_rows_lower_bound(df, _TEXT_ROW_BYTES_UPPER)
    frac = min(1.0, 1.2 * sample_rows / est)
    topk = base.orderBy("__h").limit(int(sample_rows)).select(*out_cols)
    if frac >= 1.0:
        return topk.collect()
    cutoff = min(2**63 - 1, int(-(2**63) + frac * 2**64))
    rows = (
        base.where(F.col("__h") < F.lit(cutoff))
        .orderBy("__h")
        .limit(int(sample_rows))
        .select(*out_cols)
        .collect()
    )
    if len(rows) >= sample_rows:
        return rows  # range held >= k rows: identical to the global top-k
    # estimate erred narrow (rows fatter than the byte bound, or
    # join-inflated stats): one exact pass restores correctness — but at
    # corpus scale its merge funnel is the cost the range exists to
    # avoid, so the derate is reported, not silent
    _log.warning(
        "collect_feature_sample: hash range (frac=%.3g from est=%d rows) "
        "held only %d of %d sample rows; running the unguarded exact "
        "top-k fallback",
        frac, est, len(rows), sample_rows,
    )
    return topk.collect()


def train_quality_weights_sampled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
    sample_rows: int = 100_000,
    iters: int = 25,
    reg: float = 0.01,
) -> dict:
    """Driver-side logistic fit on a BOUNDED sample — the trainer shape
    that survives 100 TB. The distributed pipeline
    (:func:`train_quality_classifier`) runs ``maxIter`` treeAggregate
    passes over the full corpus; for a 6-feature linear model that is
    50 cluster-wide passes to estimate 7 numbers. Like the PQ codebook
    trainer (``similarity.pq_train``), this instead collects a capped,
    deterministic sample (:func:`collect_feature_sample`) and runs
    Newton-Raphson in numpy: the model state is O(#features), the
    sample is O(sample_rows * #features) bytes, and neither grows with
    the corpus. Returns ``{"cols", "mean", "std", "w", "b"}`` for
    :func:`score_quality_weights`; scoring stays fully distributed.
    """
    import numpy as np

    sample = collect_feature_sample(
        df, id_col, text_col, sample_rows, lead_cols=(label_col,)
    )
    a = np.asarray([[float(v) for v in r] for r in sample], dtype=np.float64)
    return fit_logistic_sample(a[:, 1:], a[:, 0], iters=iters, reg=reg)


def fit_logistic_sample(X, y, iters: int = 25, reg: float = 0.01) -> dict:
    """Newton-Raphson logistic fit over an in-memory sample (features in
    :data:`HEURISTIC_FEATURES` order). Exposed separately so callers
    that already hold a collected sample — e.g. to derive weak labels
    from the sample itself — fit without a second corpus pass."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    # z-standardise (the pipeline's StandardScaler shape: withStd only),
    # but mean-center too so the intercept is well-conditioned
    mean = X.mean(axis=0)
    std = X.std(axis=0)
    std[std == 0.0] = 1.0
    Xs = np.hstack([(X - mean) / std, np.ones((len(X), 1))])
    w = np.zeros(Xs.shape[1])
    lam = np.full(Xs.shape[1], reg)
    lam[-1] = 0.0  # don't regularise the intercept
    for _ in range(int(iters)):
        p = 1.0 / (1.0 + np.exp(-Xs @ w))
        grad = Xs.T @ (p - y) / len(y) + lam * w
        h = (Xs.T * (p * (1.0 - p))) @ Xs / len(y) + np.diag(
            np.maximum(lam, 1e-9)
        )
        step = np.linalg.solve(h, grad)
        w -= step
        if float(np.abs(step).max()) < 1e-10:
            break
    return {
        "cols": list(HEURISTIC_FEATURES),
        "mean": mean.tolist(),
        "std": std.tolist(),
        "w": w[:-1].tolist(),
        "b": float(w[-1]),
    }


def score_quality_weights(
    weights: dict, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Map-only scoring against :func:`train_quality_weights_sampled`
    output: the coefficient vector folds into ONE whole-stage-codegen
    projection (feature exprs -> sigmoid), no VectorAssembler UDT, no
    Python in the hot path — the broadcast-weights twin of
    :func:`score_quality`."""
    scored = heuristic_feature_frame(df, id_col, text_col)
    z = F.lit(weights["b"])
    for c, m, s, wc in zip(
        weights["cols"], weights["mean"], weights["std"], weights["w"]
    ):
        z = z + F.lit(wc) * ((F.col(c) - F.lit(m)) / F.lit(s))
    return scored.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("quality_prob"),
    )


def quality_prob_expr(weights: dict, text_col: str):
    """P(keep) as ONE column expression over the raw text — the
    broadcast-weights model folded inline, so a filter can score and
    cut in the same whole-stage-codegen pass with no feature frame, no
    join, nothing but the row."""
    if list(weights["cols"]) != list(HEURISTIC_FEATURES):
        raise ValueError(
            "weights were fitted on a different feature set/order than "
            f"HEURISTIC_FEATURES: {weights['cols']!r} — the inline "
            "expression zip is positional"
        )
    exprs = _feature_exprs(text_col)
    z = F.lit(weights["b"])
    for e, m, s, wc in zip(exprs, weights["mean"], weights["std"], weights["w"]):
        z = z + F.lit(wc) * ((e - F.lit(m)) / F.lit(s))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_filter_sampled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str = "label",
    threshold: float = 0.5,
    sample_rows: int = 100_000,
) -> DataFrame:
    """End-to-end sampled-trainer filter: bounded driver fit, then ONE
    row-local scoring+filter pass (the weights fold into the predicate
    via :func:`quality_prob_expr` — no semi-join back, the corpus
    columns never leave the row) versus the pipeline trainer's
    ~``maxIter`` treeAggregate passes plus a join."""
    weights = train_quality_weights_sampled(
        df, id_col, text_col, label_col, sample_rows=sample_rows
    )
    out = df.where(quality_prob_expr(weights, text_col) >= F.lit(threshold))
    return out.drop(label_col) if label_col in df.columns else out


def repetition_weak_labels(
    df: DataFrame, id_col: str, text_col: str, frac_threshold: float = 0.2
) -> DataFrame:
    """Weak supervision for corpora with no human labels: mark documents
    whose duplicate-3-gram fraction exceeds the threshold as low quality
    (Gopher's repetition rule as a labelling function). Returns
    (id, label) with label 1 = keep."""
    from .text import repetition_stats

    rep = repetition_stats(df, id_col, text_col)
    return rep.select(
        F.col(id_col),
        (F.col("dup3_gram_frac") <= frac_threshold).cast("double").alias("label"),
    )
