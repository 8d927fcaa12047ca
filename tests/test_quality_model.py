from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import quality_model as qm


GOOD_WORDS = (
    "the data pipeline reads sensor values and aggregates them into daily "
    "summaries for the archive with careful validation of each record"
).split()
BAD_TOKENS = ["$$$", "!!!", "1234", "@@@@", "####", "buy", "buy", "buy"]


def _corpus(n_good: int, n_bad: int):
    rng = random.Random(7)
    rows = []
    for i in range(n_good):
        body = " ".join(rng.choice(GOOD_WORDS) for _ in range(40))
        rows.append((i, body, 1.0))
    for j in range(n_bad):
        body = " ".join(rng.choice(BAD_TOKENS) for _ in range(40))
        rows.append((1000 + j, body, 0.0))
    return rows


@pytest.fixture(scope="module")
def labelled(spark):
    return spark.createDataFrame(_corpus(30, 30), ["doc_id", "text", "label"])


def test_heuristic_classifier_separates(spark, labelled):
    model = qm.train_quality_classifier(labelled, "doc_id", "text")
    scored = qm.score_quality(model, labelled, "doc_id", "text").join(
        labelled.select("doc_id", "label"), on="doc_id"
    )
    rows = scored.collect()
    good = [r["quality_prob"] for r in rows if r["label"] == 1.0]
    bad = [r["quality_prob"] for r in rows if r["label"] == 0.0]
    # perfect ranking on a separable synthetic corpus
    assert min(good) > max(bad)
    assert all(0.0 <= p <= 1.0 for p in good + bad)


def test_quality_filter_keeps_good_rows(spark, labelled):
    model = qm.train_quality_classifier(labelled, "doc_id", "text")
    kept = qm.quality_filter(model, labelled, "doc_id", "text", threshold=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert all(i < 1000 for i in ids)
    assert len(ids) >= 25  # nearly all good docs survive
    # passthrough: schema unchanged
    assert kept.columns == labelled.columns


def test_text_hash_classifier_separates(spark, labelled):
    model = qm.train_quality_classifier(
        labelled, "doc_id", "text", mode="text"
    )
    scored = qm.score_quality(model, labelled, "doc_id", "text", mode="text").join(
        labelled.select("doc_id", "label"), on="doc_id"
    )
    rows = scored.collect()
    good = [r["quality_prob"] for r in rows if r["label"] == 1.0]
    bad = [r["quality_prob"] for r in rows if r["label"] == 0.0]
    assert min(good) > max(bad)


def test_repetition_weak_labels(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),  # varied -> keep
            (2, "x y x y x y x y x y x y x y x y"),  # repetitious -> drop
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["label"] for r in qm.repetition_weak_labels(df, "doc_id", "text").collect()}
    assert out[1] == 1.0 and out[2] == 0.0


def test_scoring_is_rank_stable_across_fits(spark, labelled):
    m1 = qm.train_quality_classifier(labelled, "doc_id", "text")
    m2 = qm.train_quality_classifier(labelled, "doc_id", "text")
    s1 = {r["doc_id"]: r["quality_prob"] for r in qm.score_quality(m1, labelled, "doc_id", "text").collect()}
    s2 = {r["doc_id"]: r["quality_prob"] for r in qm.score_quality(m2, labelled, "doc_id", "text").collect()}
    order1 = sorted(s1, key=lambda k: (s1[k], k))
    order2 = sorted(s2, key=lambda k: (s2[k], k))
    assert order1 == order2


def test_sampled_trainer_separates_and_caps(spark, labelled):
    """The bounded driver-side trainer must rank like the pipeline
    trainer (every good doc above every bad doc on the separable
    fixture), honour its sample cap, and keep scoring distributed
    (pure column expressions — no UDF, no ml UDT in the plan)."""
    w = qm.train_quality_weights_sampled(labelled, "doc_id", "text")
    scored = qm.score_quality_weights(w, labelled, "doc_id", "text").join(
        labelled.select("doc_id", "label"), on="doc_id"
    )
    rows = scored.collect()
    good = [r["quality_prob"] for r in rows if r["label"] == 1.0]
    bad = [r["quality_prob"] for r in rows if r["label"] == 0.0]
    assert min(good) > max(bad)
    assert all(0.0 <= p <= 1.0 for p in good + bad)
    # deterministic: same sample (hash order), same Newton path
    w2 = qm.train_quality_weights_sampled(labelled, "doc_id", "text")
    assert w == w2
    # the cap binds: training on a 10-row sample still returns weights
    w_small = qm.train_quality_weights_sampled(
        labelled, "doc_id", "text", sample_rows=10
    )
    assert len(w_small["w"]) == len(qm.HEURISTIC_FEATURES)
    # scoring plan is JVM-only — no BatchEvalPython / pandas stages
    plan = (
        qm.score_quality_weights(w, labelled, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan


def test_sampled_filter_matches_pipeline_filter(spark, labelled):
    kept_ml = qm.quality_filter(
        qm.train_quality_classifier(labelled, "doc_id", "text"),
        labelled, "doc_id", "text", threshold=0.5,
    )
    kept_np = qm.quality_filter_sampled(
        labelled.drop("label").join(
            labelled.select("doc_id", "label"), on="doc_id"
        ),
        "doc_id", "text", threshold=0.5,
    )
    ids_ml = {r["doc_id"] for r in kept_ml.select("doc_id").collect()}
    ids_np = {r["doc_id"] for r in kept_np.select("doc_id").collect()}
    assert ids_ml == ids_np  # separable corpus: both keep exactly the good docs
    assert "label" not in kept_np.columns


def test_sampled_trainer_tolerates_junk_rows(spark, labelled):
    """Null / empty / whitespace-only text rows carry NULL n_tokens /
    avg_token_len from the raw builders; the sampled trainer must not
    crash on float(None) and the inline predicate must stay non-NULL so
    junk rows are decided, not silently passed (ADVICE r8 #1). The ml
    pipeline path tolerated these via handleInvalid='keep' — the folded
    paths now coalesce features to 0.0."""
    junk = spark.createDataFrame(
        [(2000, None, 0.0), (2001, "", 0.0), (2002, "   \t  ", 0.0)],
        labelled.schema,
    )
    df = labelled.unionByName(junk)
    w = qm.train_quality_weights_sampled(df, "doc_id", "text")
    assert len(w["w"]) == len(qm.HEURISTIC_FEATURES)
    # every row — junk included — gets a non-NULL probability
    probs = {
        r["doc_id"]: r["quality_prob"]
        for r in qm.score_quality_weights(w, df, "doc_id", "text").collect()
    }
    assert len(probs) == df.count()
    assert all(p is not None and 0.0 <= p <= 1.0 for p in probs.values())
    # the inline predicate decides junk rows (keep or cut, never NULL):
    # kept + cut must partition the corpus exactly
    kept = qm.quality_filter_sampled(df, "doc_id", "text", threshold=0.5)
    n_cut = df.where(
        ~(qm.quality_prob_expr(w, "text") >= F.lit(0.5))
    ).count()
    assert kept.count() + n_cut == df.count()
    # separability is preserved: the good docs still all survive
    assert kept.where(F.col("doc_id") < 1000).count() == 30


def test_feature_sample_prefilters_past_the_cap(spark, labelled, monkeypatch):
    """The bounded sampler is one Spark job sized from byte statistics
    (VERDICT r9 #6), and its result is ALWAYS the global top-k by
    xxhash64(id) regardless of whether the hash-range pre-filter (the
    TakeOrdered merge-funnel guard) applies, errs wide, or errs narrow
    and takes the exact fallback."""
    s1 = qm.collect_feature_sample(labelled, "doc_id", "text", sample_rows=20)
    s2 = qm.collect_feature_sample(labelled, "doc_id", "text", sample_rows=20)
    assert s1 == s2
    assert len(s1) == 20  # exact top-k, whatever path was taken
    # below the cap: everything (hash-sorted)
    s_all = qm.collect_feature_sample(labelled, "doc_id", "text", sample_rows=500)
    assert len(s_all) == labelled.count()
    # force the pre-filter on this 60-row corpus by inflating the
    # row-count estimate (tiny row-byte bound): the ranged path must
    # return the SAME top-k as the unfiltered path — via the range when
    # it holds >= k rows, via the exact fallback when it doesn't
    monkeypatch.setattr(qm, "_TEXT_ROW_BYTES_UPPER", 1)
    s_forced = qm.collect_feature_sample(
        labelled, "doc_id", "text", sample_rows=20
    )
    assert s_forced == s1


def test_fit_logistic_sample_matches_scalar_reference():
    """Pin the logistic float stage (VERDICT r9 #7): fit_logistic_sample's
    Newton path reproduced by an INDEPENDENT scalar-arithmetic reference
    (pure-Python loops, explicit partial-pivot Gaussian elimination — no
    numpy) on a fixed 6-point / 6-feature dataset, weights and
    probabilities agreeing to 1e-12. Any drift in the standardisation,
    gradient, Hessian ridge, or convergence break now fails loudly
    instead of silently shifting every downstream quality decision."""
    import math

    # 6 points x 6 features (HEURISTIC_FEATURES width), values chosen
    # irrational-ish so no term cancels exactly; labels separable-ish
    X = [
        [0.10, 0.70, 0.00, 0.05, 40.0, 4.2],
        [0.30, 0.10, 0.02, 0.01, 55.0, 5.1],
        [0.05, 0.90, 0.10, 0.30, 8.0, 2.0],
        [0.45, 0.05, 0.01, 0.02, 70.0, 4.8],
        [0.02, 0.80, 0.20, 0.40, 5.0, 1.5],
        [0.38, 0.12, 0.03, 0.00, 62.0, 5.6],
    ]
    y = [1.0, 1.0, 0.0, 1.0, 0.0, 0.0]
    iters, reg = 25, 0.01
    n, d = 6, 6

    # ---- scalar reference (mirrors the documented algorithm, not the code)
    mean = [sum(X[i][j] for i in range(n)) / n for j in range(d)]
    var = [sum((X[i][j] - mean[j]) ** 2 for i in range(n)) / n for j in range(d)]
    std = [math.sqrt(v) if v != 0.0 else 1.0 for v in var]
    Xs = [[(X[i][j] - mean[j]) / std[j] for j in range(d)] + [1.0] for i in range(n)]
    w = [0.0] * (d + 1)
    lam = [reg] * d + [0.0]

    def solve(a, b):
        # partial-pivot Gaussian elimination, same pivoting as LAPACK LU
        m = [row[:] + [bv] for row, bv in zip(a, b)]
        k = len(b)
        for col in range(k):
            piv = max(range(col, k), key=lambda r: abs(m[r][col]))
            m[col], m[piv] = m[piv], m[col]
            for r in range(col + 1, k):
                f = m[r][col] / m[col][col]
                for c in range(col, k + 1):
                    m[r][c] -= f * m[col][c]
        x = [0.0] * k
        for r in range(k - 1, -1, -1):
            s = m[r][k] - sum(m[r][c] * x[c] for c in range(r + 1, k))
            x[r] = s / m[r][r]
        return x

    for _ in range(iters):
        p = [1.0 / (1.0 + math.exp(-sum(Xs[i][j] * w[j] for j in range(d + 1))))
             for i in range(n)]
        grad = [
            sum(Xs[i][j] * (p[i] - y[i]) for i in range(n)) / n + lam[j] * w[j]
            for j in range(d + 1)
        ]
        h = [
            [
                sum(Xs[i][j] * p[i] * (1.0 - p[i]) * Xs[i][c] for i in range(n)) / n
                + (max(lam[j], 1e-9) if j == c else 0.0)
                for c in range(d + 1)
            ]
            for j in range(d + 1)
        ]
        step = solve(h, grad)
        w = [wv - sv for wv, sv in zip(w, step)]
        if max(abs(s) for s in step) < 1e-10:
            break

    got = qm.fit_logistic_sample(X, y, iters=iters, reg=reg)
    assert got["cols"] == list(qm.HEURISTIC_FEATURES)
    for a, b in zip(got["mean"], mean):
        assert abs(a - b) < 1e-12
    for a, b in zip(got["std"], std):
        assert abs(a - b) < 1e-12
    for a, b in zip(got["w"], w[:-1]):
        assert abs(a - b) < 1e-12
    assert abs(got["b"] - w[-1]) < 1e-12
    # the fit actually separates this fixture (sanity that the pin is
    # pinning a meaningful model, not a degenerate all-zeros one)
    probs = [
        1.0
        / (
            1.0
            + math.exp(
                -(
                    got["b"]
                    + sum(
                        got["w"][j] * (X[i][j] - got["mean"][j]) / got["std"][j]
                        for j in range(d)
                    )
                )
            )
        )
        for i in range(n)
    ]
    assert min(p for p, lab in zip(probs, y) if lab == 1.0) > max(
        p for p, lab in zip(probs, y) if lab == 0.0
    )


def test_quality_model_artifact_and_stream_scoring(spark, labelled, tmp_path):
    """r13: the frozen-model streaming leg — sampled weights persist as
    a versioned JSON artifact, the stream scorer adds
    quality_prob via the SAME codegen expression the batch filter uses
    (scores equal by construction, asserted), min_prob cuts, and a
    wrong-feature-set artifact is refused at WRITE time."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.operators import quality_model as qm
    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_quality_model,
        quality_scored_stream,
        write_quality_model_artifact,
    )

    w = qm.train_quality_weights_sampled(labelled, "doc_id", "text")
    path = str(tmp_path / "qmodel.json")
    meta = write_quality_model_artifact(w, path)
    assert load_quality_model(path) == meta

    docs = labelled.select("doc_id", "text")
    batch = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", qm.quality_prob_expr(w, "text").alias("p")
        ).collect()
    }
    streamed = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_scored_stream(docs, path).collect()
    }
    assert streamed == batch

    cut = sorted(batch.values())[len(batch) // 2]
    kept = quality_scored_stream(docs, path, min_prob=cut)
    assert {r["doc_id"] for r in kept.collect()} == {
        d for d, p in batch.items() if p >= cut
    }

    bad = dict(w, cols=["nonsense"])
    with _pytest.raises(ValueError, match="feature set"):
        write_quality_model_artifact(bad, str(tmp_path / "bad.json"))


def test_curated_stream_quality_model_option(spark, labelled, tmp_path):
    """curated_document_stream(quality_model_path=, quality_min_prob=):
    the stream pipeline scores and cuts with the frozen model before
    the stateful dedup."""
    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.operators import quality_model as qm
    from tern_ep_data_pipeline_spark.streaming.curation import (
        curated_document_stream,
        quality_scored_stream,
        write_quality_model_artifact,
    )

    w = qm.train_quality_weights_sampled(labelled, "doc_id", "text")
    path = str(tmp_path / "qmodel.json")
    write_quality_model_artifact(w, path)

    docs = labelled.select("doc_id", "text")
    scores = {
        r["doc_id"]: r["quality_prob"]
        for r in quality_scored_stream(docs, path).collect()
    }
    cut = sorted(scores.values())[len(scores) // 2]

    src = docs.withColumn("ingest_ts", F.lit("2026-01-01 00:00:00"))
    src.write.parquet(str(tmp_path / "src"))
    stream = spark.readStream.schema(
        "doc_id long, text string, ingest_ts string"
    ).parquet(str(tmp_path / "src"))
    out = curated_document_stream(
        stream, min_chars=1,
        quality_model_path=path, quality_min_prob=cut,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = {
        r["doc_id"]: r["quality_prob"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # every surviving doc passed the cut with its batch-equal score;
    # the dedup stage may additionally drop exact-content duplicates
    expected = {d: p for d, p in scores.items() if p >= cut}
    assert set(got) <= set(expected)
    assert all(got[d] == expected[d] for d in got)
    assert got, "cut must not drop everything"
