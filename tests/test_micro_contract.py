"""Micro-unit integer contract vs the double operator surface.

The public operators keep their float columns (users expect ratios); the
gate emits exact-integer micro-units (`micro=True`). These tests pin the
two surfaces to each other: micro/1e6 must equal the double value within
half a unit in the 6th decimal (the quantisation they share), and the
micro arithmetic itself must be half-away-from-zero exact.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import dedup
from tern_ep_data_pipeline_spark.operators import text
from tern_ep_data_pipeline_spark.operators import quality_model as qm

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _pairs(spark, double_df, micro_df, col_double, col_micro):
    j = (
        double_df.select("doc_id", col_double)
        .join(micro_df.select("doc_id", col_micro), "doc_id")
        .collect()
    )
    assert len(j) > 0
    return [(r[col_double], r[col_micro]) for r in j]


def _assert_close(pairs, tol=6e-7):
    for d, m in pairs:
        if d is None or m is None:
            assert d is None and (m is None or m == 0), (d, m)
            continue
        assert math.isclose(d, m / 1e6, abs_tol=tol), (d, m)


def test_micro_ratio_half_away(spark):
    rows = spark.createDataFrame(
        [(7, 3), (1, 3), (2, 3), (5, 2), (0, 5), (0, 0)], "n int, d int"
    ).select("n", "d", text.micro_ratio(F.col("n"), F.col("d")).alias("m")).collect()
    got = {(r["n"], r["d"]): r["m"] for r in rows}
    assert got[(7, 3)] == 2333333   # 2333333.33 -> down
    assert got[(1, 3)] == 333333
    assert got[(2, 3)] == 666667    # .67 -> up
    assert got[(5, 2)] == 2500000   # exact
    assert got[(0, 5)] == 0
    assert got[(0, 0)] is None      # denominator 0 -> NULL


def test_half_away_div_signed(spark):
    rows = (
        spark.createDataFrame(
            [(-1500000,), (1500000,), (-2500000,), (-693147180560,)], "s long"
        )
        .select(
            "s",
            text.half_away_div(
                F.col("s").cast("decimal(38,0)"),
                F.lit(1_000_000).cast("decimal(38,0)"),
            ).alias("r"),
        )
        .collect()
    )
    got = {r["s"]: r["r"] for r in rows}
    assert got[-1500000] == -2      # half away from zero
    assert got[1500000] == 2
    assert got[-2500000] == -3
    assert got[-693147180560] == -693147


def test_token_stats_micro_matches_double(spark):
    docs = _docs(spark)
    d = text.token_stats(docs, "doc_id", "text")
    m = text.token_stats(docs, "doc_id", "text", micro=True)
    _assert_close(_pairs(spark, d, m, "avg_token_len", "avg_token_len_micro"))


def test_quality_scores_micro_matches_double(spark):
    docs = _docs(spark)
    d = text.quality_scores(docs, "doc_id", "text")
    m = text.quality_scores(docs, "doc_id", "text", micro=True)
    for c in ("stopword_ratio", "punct_ratio", "digit_ratio", "upper_ratio"):
        _assert_close(_pairs(spark, d, m, c, f"{c}_micro"))


def test_bpe_micro_matches_double(spark):
    docs = _docs(spark)
    d = text.bpe_token_stats(docs, "doc_id", "text")
    m = text.bpe_token_stats(docs, "doc_id", "text", micro=True)
    _assert_close(_pairs(spark, d, m, "chars_per_bpe_token", "chars_per_bpe_micro"))


def test_chunk_dedup_micro_matches_double(spark):
    docs = _docs(spark)
    d = dedup.chunk_dedup_stats(docs, "doc_id", "text", chunk_tokens=10)
    m = dedup.chunk_dedup_stats(docs, "doc_id", "text", chunk_tokens=10, micro=True)
    dedup.release_staged(spark)
    _assert_close(_pairs(spark, d, m, "dup_chunk_frac", "dup_chunk_frac_micro"))


def test_unigram_micro_matches_double(spark):
    docs = _docs(spark)
    d = text.unigram_logprob(docs, "doc_id", "text")
    m = text.unigram_logprob(docs, "doc_id", "text", micro=True)
    _assert_close(_pairs(spark, d, m, "avg_logprob", "avg_logprob_micro"))


def test_heuristic_feature_frame_micro(spark):
    docs = _docs(spark)
    m = qm.heuristic_feature_frame(docs, "doc_id", "text", micro=True)
    types = {f.name: f.dataType.simpleString() for f in m.schema.fields}
    assert all(t == "bigint" for c, t in types.items() if c != "doc_id"), types
    d = qm.heuristic_feature_frame(docs, "doc_id", "text")
    _assert_close(_pairs(spark, d, m, "stopword_ratio", "stopword_ratio_micro"))
    _assert_close(_pairs(spark, d, m, "avg_token_len", "avg_token_len_micro"))
