"""Plan-equality pins for operators rebuilt from SQL strings.

Driver-side build batching (VERDICT r15 #1) rebuilt these operators from
Column chains into ``selectExpr`` strings. Each test keeps the r15 Column
form as a frozen reference and checks that the live operator builds the
IDENTICAL analyzed plan — with Catalyst's own ``sameResult``
(canonicalized plan equality, the engine's definition of "same
computation"), which is strictly stronger than value equality on any
finite dataset.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import text


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(4).selectExpr(
        "id as doc_id",
        "concat('x THE 12.3 (a) ', id, ' the a of und zz') as text",
    )


def _same(d1, d2) -> bool:
    return d1._jdf.queryExecution().analyzed().sameResult(
        d2._jdf.queryExecution().analyzed()
    )


def _ref_unigram_logprob_micro(df, id_col, text_col, smoothing=0.5):
    """Verbatim r15 Column-form of text.unigram_logprob(micro=True)."""
    from tern_ep_data_pipeline_spark.operators.dedup import tokens
    from tern_ep_data_pipeline_spark.operators.text import half_away_div

    occ = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t"))

    def fresh_tokens(name):
        return df.select(F.explode(tokens(F.col(text_col))).alias(name))

    vocab = fresh_tokens("__t").groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    totals = fresh_tokens("__ta").agg(
        F.count(F.lit(1)).cast("double").alias("__T"),
        F.count_distinct("__ta").alias("__V"),
    )
    totals2 = fresh_tokens("__tb").agg(
        F.count(F.lit(1)).cast("double").alias("__T2"),
        F.count_distinct("__tb").alias("__V2"),
    )
    a = float(smoothing)
    vl = vocab.alias("v").crossJoin(F.broadcast(totals.alias("tt")))
    vocab_lp = vl.select(
        F.col("v.__t").alias("__t"),
        F.log(
            (F.col("v.__c") + F.lit(a))
            / (F.col("tt.__T") + F.lit(a) * (F.col("tt.__V") + 1))
        ).alias("__lp"),
    )
    unseen = totals2.select(
        F.log(F.lit(a) / (F.col("__T2") + F.lit(a) * (F.col("__V2") + 1))).alias(
            "__lp0"
        )
    )
    scored = (
        occ.join(vocab_lp.hint("shuffle_hash"), on="__t", how="left")
        .crossJoin(F.broadcast(unseen))
        .select(F.col(id_col), F.coalesce("__lp", "__lp0").alias("__lp"))
    )
    scored = scored.withColumn(
        "__lpq", F.round(F.col("__lp") * F.lit(1.0e12)).cast("decimal(38,0)")
    )
    den = (F.count(F.lit(1)) * F.lit(1_000_000)).cast("decimal(38,0)")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored_tokens"),
        half_away_div(F.sum("__lpq"), den).alias("avg_logprob_micro"),
    )


def test_unigram_logprob_plan_equal(docs):
    new = text.unigram_logprob(docs, "doc_id", "text", micro=True)
    ref = _ref_unigram_logprob_micro(docs, "doc_id", "text")
    assert _same(ref, new)


def _ref_dsir_grams(df, id_col, text_col):
    """Verbatim r15 Column-form of sampling._dsir_grams."""
    from tern_ep_data_pipeline_spark.operators.dedup import _fanout, tokens

    toks = _fanout(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    bigrams = F.transform(
        F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("__t"), i + F.lit(2))),
    )
    return toks.select(
        F.col(id_col), F.explode(F.concat(F.col("__t"), bigrams)).alias("__g")
    )


def test_dsir_grams_plan_equal(docs):
    from tern_ep_data_pipeline_spark.operators.sampling import _dsir_grams

    assert _same(_ref_dsir_grams(docs, "doc_id", "text"), _dsir_grams(docs, "doc_id", "text"))


def _ref_dsir_logratio_from_counts(raw_b, tgt_b, buckets, smoothing):
    """Verbatim r15 Column-form of sampling._dsir_logratio_from_counts."""
    from pyspark.sql import Window

    a = float(smoothing)
    w = Window.partitionBy()
    joined = raw_b.join(tgt_b.hint("shuffle_hash"), on="bucket", how="full").select(
        "bucket",
        "__cr",
        "__ct",
        F.sum("__cr").over(w).cast("double").alias("__Tr"),
        F.sum("__ct").over(w).cast("double").alias("__Tt"),
    ).where(F.col("__cr").isNotNull())
    denom = F.lit(a) * F.lit(float(buckets))
    lr = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(a))
        / (F.col("__Tt") + denom)
    ) - F.log((F.col("__cr") + F.lit(a)) / (F.col("__Tr") + denom))
    return joined.select(
        "bucket", F.round(lr * F.lit(1.0e12)).cast("long").alias("lr_pico")
    )


def _ref_importance_resample_subset(raw, target, k, id_col, text_col,
                                    buckets=10_000, smoothing=1.0, salt="dsir"):
    """Verbatim r15 Column-form of sampling.importance_resample
    (target_subset_of_raw=True), minus the _stage persist (plan-equality
    is checked persist-free on both sides)."""
    from tern_ep_data_pipeline_spark.operators.text import half_away_div

    def portable_hash(col, salt):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")

    bcol = (portable_hash(F.col("__g"), salt) % buckets).alias("bucket")
    gb = _ref_dsir_grams(raw, id_col, text_col).select(F.col(id_col), bcol)
    raw_b = gb.groupBy("bucket").agg(F.count(F.lit(1)).alias("__cr"))
    tgt_b = (
        gb.join(target.select(F.col(id_col)).distinct(), on=id_col, how="left_semi")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    lr = _ref_dsir_logratio_from_counts(raw_b, tgt_b, buckets, smoothing)
    scored = (
        gb.join(F.broadcast(lr), on="bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("lr_pico").cast("decimal(38,0)")).alias("__s"))
    )
    u = (portable_hash(F.col(id_col), f"{salt}-g") + F.lit(0.5)) / F.lit(
        float(1 << 60)
    )
    g_pico = F.round(-F.log(-F.log(u)) * F.lit(1.0e12)).cast("long")
    keyed = scored.withColumn(
        "__key", (F.col("__s") + g_pico.cast("decimal(38,0)")).cast("decimal(38,0)")
    )
    mega = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        keyed.orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            half_away_div(F.col("__s"), mega).alias("logweight_micro"),
            half_away_div(F.col("__key"), mega).alias("key_micro"),
        )
    )


def test_importance_resample_plan_equal(docs, monkeypatch):
    """Whole-function pin for the heaviest converted builder. The live
    function's _stage persist is bypassed (identity) so both sides build
    the same persist-free plan — the persist call does not change the
    logical plan's computation, only its materialisation."""
    from tern_ep_data_pipeline_spark.operators import dedup, sampling

    monkeypatch.setattr(dedup, "_stage", lambda df: df)
    monkeypatch.setattr(sampling, "_stage", dedup._stage, raising=False)
    new = sampling.importance_resample(
        docs, docs.where(F.col("doc_id") % 2 == 0), 3,
        id_col="doc_id", text_col="text", target_subset_of_raw=True,
    )
    ref = _ref_importance_resample_subset(
        docs, docs.where(F.col("doc_id") % 2 == 0), 3, "doc_id", "text"
    )
    assert _same(ref, new)


def _ref_tfidf_top_terms(df, id_col, text_col, k=3):
    """Verbatim r15 Column-form of text.tfidf_top_terms."""
    from pyspark.sql import Window

    from tern_ep_data_pipeline_spark.operators.dedup import _fanout, tokens

    toks = _fanout(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
            "rank",
        )
    )


def test_tfidf_top_terms_plan_equal(docs):
    assert _same(
        _ref_tfidf_top_terms(docs, "doc_id", "text", 3),
        text.tfidf_top_terms(docs, "doc_id", "text", 3),
    )
