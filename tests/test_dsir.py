"""DSIR importance resampling (sampling.dsir_logratio / importance_resample).

Reference method: Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" — hashed unigram+bigram features, target/raw
importance log-ratio, Gumbel-top-k selection.  The engine contract under
test: layout determinism (exact integer weight sums), target enrichment
(the selection actually moves toward the target distribution), and the
Gumbel key's sampling (not head-taking) semantics.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import sampling


def _two_topic_corpus(spark, n_per=60):
    """Two disjoint-vocabulary topics; ids interleave so id order carries
    no topic signal."""
    rows = []
    for i in range(n_per):
        rows.append((2 * i, "alpha beta gamma delta " * 8, "sci"))
        rows.append((2 * i + 1, "omega psi chi phi " * 8, "web"))
    return spark.createDataFrame(rows, "doc_id long, text string, topic string")


def test_dsir_selects_target_like_docs(spark):
    """With a pure-topic target, the selected pool docs are overwhelmingly
    that topic — the importance weights separate the two disjoint
    vocabularies by a huge margin, so even with Gumbel noise the
    selection should be one-sided."""
    docs = _two_topic_corpus(spark)
    target = docs.where("topic = 'sci'").select("doc_id", "text")
    pool = docs.select("doc_id", "text")
    picked = sampling.importance_resample(pool, target, 30)
    got = picked.join(docs.select("doc_id", "topic"), on="doc_id")
    counts = dict(
        (r["topic"], r["n"])
        for r in got.groupBy("topic").agg(F.count("*").alias("n")).collect()
    )
    assert counts.get("sci", 0) >= 28, counts


def test_dsir_layout_deterministic(spark):
    """Exact integer weight sums + hash-derived Gumbel noise: the same
    inputs select the same rows with the same micro values under any
    partitioning."""
    docs = _two_topic_corpus(spark).select("doc_id", "text")
    target = docs.where("doc_id % 2 = 0")
    a = sorted(tuple(r) for r in sampling.importance_resample(docs, target, 20).collect())
    b = sorted(
        tuple(r)
        for r in sampling.importance_resample(
            docs.repartition(7), target.repartition(3), 20
        ).collect()
    )
    assert a == b


def test_dsir_k_exceeds_pool(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c d e"), (3, "e f g")], "doc_id long, text string"
    )
    out = sampling.importance_resample(docs, docs.where("doc_id = 1"), 50)
    assert out.count() == 3


def test_dsir_logratio_shape_and_sign(spark):
    """The ratio table is bounded by ``buckets`` rows and covers exactly
    the raw pool's buckets; buckets that only target-heavy grams hash to
    score positive, raw-only buckets negative."""
    docs = _two_topic_corpus(spark)
    target = docs.where("topic = 'sci'").select("doc_id", "text")
    pool = docs.select("doc_id", "text")
    lr = sampling.dsir_logratio(pool, target, buckets=512)
    rows = lr.collect()
    assert 0 < len(rows) <= 512
    # the sci vocabulary dominates its buckets in the target; web grams
    # never appear there — their buckets must score below the sci ones
    probe = spark.createDataFrame(
        [("alpha beta",), ("omega psi",)], "g string"
    ).select("g", sampling.hash_bucket("g", "dsir", 512))
    scored = {r["g"]: r["lr_pico"] for r in probe.join(lr, on="bucket").collect()}
    assert scored["alpha beta"] > 0 > scored["omega psi"], scored


def test_dsir_gumbel_is_sampling_not_head(spark):
    """Different salts draw different Gumbel noise — the selection is a
    sample from the importance distribution, so two salts must not pick
    identical sets when weights are near-uniform (all docs share one
    vocabulary)."""
    rows = [(i, "common words shared by every single document here") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = docs.where("doc_id < 50")
    s1 = {r["doc_id"] for r in sampling.importance_resample(docs, tgt, 20, salt="dsir").collect()}
    s2 = {r["doc_id"] for r in sampling.importance_resample(docs, tgt, 20, salt="other").collect()}
    assert s1 != s2


def test_curate_corpus_dsir_stage(spark):
    """curate_corpus(dsir_target=, dsir_k=): the pipeline's stage-6
    selection keeps exactly k target-like survivors, audit mode
    attributes the dropped docs to 'dsir_sampled_out', and combining
    DSIR with domain mixing is rejected."""
    import random

    import pytest as _pytest

    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    # per-doc UNIQUE texts (the pipeline's exact/near-dup stages run
    # before DSIR — identical topic texts would collapse to one doc each)
    rng = random.Random(5)
    sci = "atom quark lepton boson photon gluon meson hadron spin flux".split()
    web = "click banner cookie popup tracker advert widget layout theme font".split()
    rows = []
    for i in range(60):
        rows.append((2 * i, " ".join(rng.choice(sci) for _ in range(40)), "sci"))
        rows.append((2 * i + 1, " ".join(rng.choice(web) for _ in range(40)), "web"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, topic string")
    target = docs.where("topic = 'sci'").select("doc_id", "text")
    out = curate_corpus(
        docs.select("doc_id", "text"),
        dsir_target=target,
        dsir_k=10,
        memory_guard=False,
    )
    assert out.count() == 10

    audit = curate_corpus(
        docs.select("doc_id", "text"),
        dsir_target=target,
        dsir_k=10,
        audit=True,
        memory_guard=False,
    )
    stages = {r["stage"] for r in audit.select("stage").distinct().collect()}
    assert "dsir_sampled_out" in stages and "kept" in stages

    with _pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(
            docs.select("doc_id", "text"),
            dsir_target=target,
            dsir_k=10,
            domain_col="source",
            domain_fractions={"a": 1.0},
            memory_guard=False,
        )


def test_curate_corpus_dsir_half_specified_rejected(spark):
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "other text there")],
        "doc_id long, text string",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        curate_corpus(docs, dsir_k=5, memory_guard=False)
    with _pytest.raises(ValueError, match="together"):
        curate_corpus(docs, dsir_target=docs, memory_guard=False)

    # ADVICE r12 #3: the validation is hoisted to the TOP of
    # curate_corpus — a mis-paired call fails before stages 0-5 do any
    # work. The bogus quality_model below would raise at stage 5 if
    # execution got that far; the ValueError proves it never does.
    with _pytest.raises(ValueError, match="together"):
        curate_corpus(
            docs, dsir_k=5, quality_model=object(), memory_guard=False
        )


def test_dsir_subset_fast_path_identical(spark):
    """target_subset_of_raw=True derives the target marginals from the
    pool's staged per-doc counts (no second text pass) — bit-identical
    output whenever the target really is a pool subset."""
    docs = _two_topic_corpus(spark).select("doc_id", "text")
    target = docs.where("doc_id % 3 = 0")
    slow = sorted(
        tuple(r) for r in sampling.importance_resample(docs, target, 25).collect()
    )
    fast = sorted(
        tuple(r)
        for r in sampling.importance_resample(
            docs, target, 25, target_subset_of_raw=True
        ).collect()
    )
    assert slow == fast


# ------------------------------------------------- streaming DSIR (r13)

def _varied_corpus(spark, n=40, seed=5):
    import random

    rng = random.Random(seed)
    sci = "quantum neutrino boson lepton quark hadron meson photon".split()
    web = "click buy sale deal offer free shop cart".split()
    rows = []
    for i in range(n):
        words = sci if i % 2 == 0 else web
        rows.append((i, " ".join(rng.choice(words) for _ in range(30))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _reference_score(raw, table, prefix, buckets):
    """One document's DSIR score by the plain per-token loop, independent
    of the stream scorer: hashlib md5 of every unigram and bigram, pico-log
    sum over the buckets present in ``table`` (Python ints, so no wrap),
    half-away-from-zero division to micro units."""
    import hashlib

    from tern_ep_data_pipeline_spark.operators.dedup import py_tokens

    def lr(gram):
        h = int(hashlib.md5(prefix + gram.encode()).hexdigest()[:15], 16)
        return table.get(h % buckets, 0)

    s, prev = 0, None
    for t in py_tokens(raw):
        s += lr(t)
        if prev is not None:
            s += lr(prev + " " + t)
        prev = t
    den = 1_000_000
    return (
        (2 * s + den) // (2 * den)
        if s >= 0
        else -((2 * (-s) + den) // (2 * den))
    )


def _reference_scores(spark, docs, path):
    """{doc_id: :func:`_reference_score`} under the ratio artifact at
    ``path``."""
    from tern_ep_data_pipeline_spark.streaming.curation import load_dsir_ratio

    table, meta = load_dsir_ratio(spark, path)
    prefix, buckets = f"{meta['salt']}:".encode(), int(meta["buckets"])
    return {
        r["doc_id"]: _reference_score(r["text"], table, prefix, buckets)
        for r in docs.select("doc_id", "text").collect()
    }


def test_dsir_ratio_artifact_roundtrip_and_swap(spark, tmp_path):
    """The frozen ratio artifact: rows equal dsir_logratio exactly, meta
    pins the feature space, a refresh publishes the next version, and a
    ``://`` path publishes the same versioned layout."""
    import pytest as _pytest

    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_dsir_ratio,
        write_dsir_ratio_artifact,
    )

    docs = _varied_corpus(spark)
    t1 = docs.where("doc_id % 2 = 0")
    t2 = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "ratio_art")
    meta = write_dsir_ratio_artifact(docs, t1, path, buckets=512)
    assert meta["buckets"] == 512 and meta["n_ratio_rows"] > 0

    table, meta2 = load_dsir_ratio(spark, path)
    assert meta2 == meta
    expect = {
        int(r["bucket"]): int(r["lr_pico"])
        for r in sampling.dsir_logratio(docs, t1, buckets=512).collect()
    }
    assert table == expect

    # refresh = the next version; the new model must differ and fully
    # replace the old one for a new reader
    write_dsir_ratio_artifact(docs, t2, path, buckets=512)
    table2, _ = load_dsir_ratio(spark, path)
    assert table2 == {
        int(r["bucket"]): int(r["lr_pico"])
        for r in sampling.dsir_logratio(docs, t2, buckets=512).collect()
    }
    assert table2 != table
    from tern_ep_data_pipeline_spark.sources.artifacts import (
        current_artifact_version,
    )

    assert current_artifact_version(spark, path) == 2

    # r14 (verdict r13 #3): a ``://`` path publishes the same versioned
    # pointer layout (rename-free, object-store-capable; file:// drives
    # the same Hadoop FS code path here)

    uri = "file://" + str(tmp_path / "ratio_uri")
    write_dsir_ratio_artifact(docs, t1, uri, buckets=512)
    assert current_artifact_version(spark, uri) == 1
    t_uri, _ = load_dsir_ratio(spark, uri)
    assert t_uri == table


def test_dsir_stream_scoring_matches_batch(spark, tmp_path):
    """Parity pin: the stateless Arrow scorer reproduces the batch
    scorer's exact integer micro-log weights (same tokens, same grams,
    same portable bucket hash, same inner-join drop of absent buckets,
    same half-away division) for every document the batch scorer
    emits; gram-less documents score 0."""
    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.operators.sampling import (
        _dsir_grams,
        dsir_logratio,
        hash_bucket,
    )
    from tern_ep_data_pipeline_spark.operators.text import half_away_div
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    docs = _varied_corpus(spark, n=30)
    target = docs.where("doc_id % 2 = 0")
    path = str(tmp_path / "ratio_par")
    write_dsir_ratio_artifact(docs, target, path, buckets=256)

    lr = dsir_logratio(docs, target, buckets=256)
    gb = _dsir_grams(docs, "doc_id", "text").select(
        "doc_id", hash_bucket("__g", "dsir", 256)
    )
    batch = {
        r["doc_id"]: r["m"]
        for r in gb.join(F.broadcast(lr), on="bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("lr_pico").cast("decimal(38,0)")).alias("s"))
        .select(
            "doc_id",
            half_away_div(
                F.col("s"), F.lit(1_000_000).cast("decimal(38,0)")
            ).alias("m"),
        )
        .collect()
    }
    assert batch, "batch scorer must emit rows"

    streamed = {
        r["doc_id"]: r["logweight_micro"]
        for r in dsir_scored_stream(docs, path).collect()
    }
    for doc_id, m in batch.items():
        assert streamed[doc_id] == m, (doc_id, streamed[doc_id], m)
    # the vectorised kernel is also integer-equal to the per-token loop
    # on every document, including those the batch scorer does not emit
    assert _reference_scores(spark, docs, path) == streamed
    # all docs present; any batch-absent doc scores exactly 0
    assert set(streamed) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for doc_id in set(streamed) - set(batch):
        assert streamed[doc_id] == 0

    # threshold filter drops strictly-below-cut documents
    cut = sorted(streamed.values())[len(streamed) // 2]
    kept = dsir_scored_stream(docs, path, min_logweight_micro=cut)
    assert {r["doc_id"] for r in kept.collect()} == {
        d for d, m in streamed.items() if m >= cut
    }


import pytest as _pytest_mod


@_pytest_mod.mark.parametrize("layout", ["local", "versioned"])
def test_dsir_sink_kill_restart_exactly_once(
    spark, tmp_path, monkeypatch, layout
):
    """r12 verdict #4's contract: kill the scoring stream mid-run (one
    committed batch), restart from the SAME checkpoint, and the output
    equals a crash-free twin — every doc scored once, identical
    weights, a retried batch replaces its own partition. Scores come
    from the frozen artifact both before and after the restart — on a
    plain local path AND a file:// URI, both the r14 versioned pointer
    layout (the restart re-resolves _CURRENT; unchanged artifact ->
    identical re-scores, the object-store story's exactly-once leg)."""
    import glob as globmod

    import pytest as _pytest

    from tern_ep_data_pipeline_spark.streaming import curation as sc

    docs = _varied_corpus(spark, n=12)
    target = docs.where("doc_id % 2 = 0")
    ratio = (
        "file://" + str(tmp_path / "ratio_kr")
        if layout == "versioned"
        else str(tmp_path / "ratio_kr")
    )
    sc.write_dsir_ratio_artifact(docs, target, ratio, buckets=256)

    rows = docs.collect()
    for b, chunk in enumerate((rows[:6], rows[6:])):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.parquet(
            str(tmp_path / "src" / f"b{b}")
        )

    def start(tag):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "src") + "/b*")
        )
        return (
            sc.dsir_scored_stream_sink(
                stream, ratio,
                str(tmp_path / f"out_{tag}"),
                str(tmp_path / f"ckpt_{tag}"),
            )
            .trigger(availableNow=True)
            .start()
        )

    def collect(tag):
        return {
            r["doc_id"]: r["logweight_micro"]
            for r in spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
        }

    q = start("twin")
    q.awaitTermination(180)
    expected = collect("twin")
    assert set(expected) == {r["doc_id"] for r in rows}

    real_write = sc._dsir_write_batch
    state = {"n": 0}

    def faulty(batch, batch_id, out_path):
        state["n"] += 1
        if state["n"] == 2:
            raise RuntimeError("injected mid-batch crash")
        return real_write(batch, batch_id, out_path)

    monkeypatch.setattr(sc, "_dsir_write_batch", faulty)
    q = start("cr")
    with _pytest.raises(Exception, match="injected mid-batch crash"):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    landed = globmod.glob(str(tmp_path / "out_cr") + "/batch_id=*")
    assert len(landed) == 1

    monkeypatch.setattr(sc, "_dsir_write_batch", real_write)
    q2 = start("cr")
    q2.awaitTermination(180)
    assert q2.exception() is None
    assert collect("cr") == expected
    dupes = (
        spark.read.parquet(str(tmp_path / "out_cr"))
        .groupBy("doc_id").count().where("count > 1").count()
    )
    assert dupes == 0


def test_curated_stream_dsir_option(spark, tmp_path):
    """The curated-stream pipeline's dsir_ratio_path option: surviving
    docs come out scored (and cut at dsir_min_logweight_micro), wired
    after the watermark-scoped dedup."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        curated_document_stream,
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    docs = _varied_corpus(spark, n=20)
    target = docs.where("doc_id % 2 = 0")
    ratio = str(tmp_path / "ratio_opt")
    write_dsir_ratio_artifact(docs, target, ratio, buckets=256)

    src = docs.withColumn("ingest_ts", F.lit("2026-01-01 00:00:00"))
    src.write.parquet(str(tmp_path / "src"))
    stream = spark.readStream.schema(
        "doc_id long, text string, ingest_ts string"
    ).parquet(str(tmp_path / "src"))

    scores = {
        r["doc_id"]: r["logweight_micro"]
        for r in dsir_scored_stream(docs, ratio).collect()
    }
    cut = sorted(scores.values())[len(scores) // 2]

    out = curated_document_stream(
        stream, min_chars=1,
        dsir_ratio_path=ratio, dsir_min_logweight_micro=cut,
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
        r["doc_id"]: r["logweight_micro"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {d: m for d, m in scores.items() if m >= cut}


def test_md5np_bit_equal_to_hashlib():
    """The vectorised MD5 kernel behind the stream DSIR scorer is
    BYTE-EQUAL to hashlib for every input — the property that makes
    stream and batch scoring incapable of diverging (unlike the Rabin-Karp
    fast family, which pins decision equality over different values).
    Random strings straddle the single-block/55-byte fallback boundary;
    the salted-gram shapes are the scorer's exact inputs."""
    import hashlib
    import random
    import string

    import numpy as np

    from tern_ep_data_pipeline_spark.operators.md5np import (
        MAX_FAST_LEN,
        md5_hex60,
    )

    rng = random.Random(11)
    msgs = [b"", b"a", b"dsir:", b"x" * MAX_FAST_LEN, b"x" * (MAX_FAST_LEN + 1)]
    msgs += [
        ("dsir:" + w1 + " " + w2).encode()
        for w1 in ("quantum", "click", "")
        for w2 in ("neutrino", "buy", "")
    ]
    for _ in range(3000):
        k = rng.randint(0, 80)
        msgs.append(
            "".join(rng.choices(string.printable + "é漢 ", k=k)).encode()
        )
    got = md5_hex60(msgs)
    exp = np.array(
        [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs],
        dtype=np.int64,
    )
    assert (got == exp).all()
    assert got.dtype == np.int64 and (got >= 0).all()


def test_dsir_stream_scoring_whitespace_edge_classes(spark, tmp_path):
    """stream == per-token reference on the token edge classes the
    vectorised kernel must not simplify away: empty docs (py_tokens('') == ['']), tab/NL
    leading tokens (trim strips spaces only), NBSP non-splits, and
    single-token docs (no bigram)."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    rows = [
        (0, ""),
        (1, "   "),
        (2, "\tlead tab"),
        (3, "nbsp joined stays"),
        (4, "single"),
        (5, "a b a b a"),
        (6, "trail space "),
        (7, "quantum neutrino boson quantum neutrino"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "ratio_ws")
    write_dsir_ratio_artifact(
        docs, docs.where("doc_id >= 4"), path, buckets=64
    )
    fast = {
        r["doc_id"]: r["logweight_micro"]
        for r in dsir_scored_stream(docs, path).collect()
    }
    assert fast == _reference_scores(spark, docs, path)
    assert set(fast) == {r[0] for r in rows}


def test_dsir_scorer_refuses_mismatched_artifact(spark, tmp_path):
    """The artifact pins its bucket hash; a scorer whose kernel computes
    a different family must refuse at stream construction."""
    import json

    import pytest as _pytest

    from tern_ep_data_pipeline_spark.sources.artifacts import (
        _write_small_file,
        current_artifact_dir,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    docs = _varied_corpus(spark, n=8)
    path = str(tmp_path / "ratio_hm")
    meta = write_dsir_ratio_artifact(docs, docs, path, buckets=64)
    assert meta["hash"] == "md5-60bit"

    doctored = dict(meta, hash="xxhash-64")
    _write_small_file(
        spark, current_artifact_dir(spark, path) + "/meta.json",
        json.dumps(doctored).encode(),
    )
    with _pytest.raises(ValueError, match="mismatched buckets"):
        dsir_scored_stream(docs, path)


def test_dsir_fast_scorer_cap_path_parity():
    """The fast kernel's vocab cap must degrade to batch-local codes
    WITHOUT changing scores or poisoning the persistent pair table:
    run the same batch stream through an uncapped scorer, a tightly
    capped one, and the per-token reference loop — integer-equal
    everywhere, including batches AFTER the cap bites (where a stale
    pair entry keyed by a recycled batch-local code would surface)."""
    import random

    import pandas as pd

    from tern_ep_data_pipeline_spark.streaming.curation import (
        _DsirFastScorer,
    )

    rng = random.Random(17)
    table = {b: rng.randint(-10**12, 10**12) for b in range(512)}
    prefix, buckets = b"dsir:", 512

    vocab = [f"tok{i}" for i in range(400)]
    batches = []
    for b in range(4):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
            for _ in range(40)
        ]
        texts += ["", "  ", "\tx y", "solo"]
        batches.append(pd.Series(texts))

    free = _DsirFastScorer(table, prefix, buckets)
    capped = _DsirFastScorer(table, prefix, buckets, max_vocab=50)
    for s in batches:
        exp = [_reference_score(t, table, prefix, buckets) for t in s]
        assert free.score(s).tolist() == exp
        assert capped.score(s).tolist() == exp
    assert len(capped.code2tok) <= 50
    assert len(free.code2tok) > 50  # the cap actually bit


def test_dsir_vocab_sidecar_prewarm_parity(spark, tmp_path):
    """r14 verdict #3: an artifact built with vocab_top_k ships a
    vocabulary sidecar; the fast scorer prewarms from it and scores
    INTEGER-EQUAL to the sidecar-less scorer and the per-token
    reference. Also pins: sidecar content (top-K raw grams by count), meta
    bookkeeping, absence for vocab_top_k=0, and the capped-prewarm
    path (a tiny max_vocab must not change scores)."""
    import pandas as pd

    from tern_ep_data_pipeline_spark.streaming.curation import (
        _DsirFastScorer,
        dsir_scored_stream,
        load_dsir_ratio,
        load_dsir_vocab,
        write_dsir_ratio_artifact,
    )

    rows = [
        (i, f"alpha beta{i % 5} gamma{i % 3} alpha shared tail")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.where("doc_id % 2 = 0")

    plain = str(tmp_path / "plain")
    write_dsir_ratio_artifact(docs, target, plain, buckets=256)
    assert load_dsir_vocab(spark, plain) is None

    side = str(tmp_path / "side")
    meta = write_dsir_ratio_artifact(
        docs, target, side, buckets=256, vocab_top_k=12
    )
    assert meta["vocab_top_k"] == 12 and meta["n_vocab_rows"] == 12
    grams = load_dsir_vocab(spark, side)
    assert len(grams) == 12
    assert grams[0] == "alpha"  # 2 occurrences/doc: the hottest gram
    assert any(" " in g for g in grams)  # bigrams rank too

    exp = _reference_scores(spark, docs, plain)
    for path in (plain, side):
        got = {r["doc_id"]: r["logweight_micro"]
               for r in dsir_scored_stream(docs, path).collect()}
        assert got == exp, path

    # prewarm unit semantics: warmed == cold == capped-warm, and the
    # warmed scorer already knows the sidecar vocabulary
    table, _ = load_dsir_ratio(spark, side)
    texts = pd.Series([t for _, t in rows] + ["", "novel unseen words"])
    cold = _DsirFastScorer(table, b"dsir:", 256)
    warm = _DsirFastScorer(table, b"dsir:", 256)
    warm.prewarm(grams)
    n_warm_vocab = len(warm.code2tok)
    assert n_warm_vocab > 0 and len(warm.pair_map) > 0
    capped = _DsirFastScorer(table, b"dsir:", 256, max_vocab=3)
    capped.prewarm(grams)
    assert len(capped.code2tok) <= 3
    c = cold.score(texts).tolist()
    assert warm.score(texts).tolist() == c
    assert capped.score(texts).tolist() == c
    # idempotent: prewarming again adds nothing and changes no score
    n_after_score = len(warm.code2tok)
    warm.prewarm(grams)
    assert len(warm.code2tok) == n_after_score
    assert warm.score(texts).tolist() == c


def test_dsir_fast_scorer_overflow_guard_parity():
    """ADVICE r14: documents whose worst-case pico sum could wrap the
    fast kernel's int64 accumulators reroute through the Python-int
    route — integer-equal to the per-token reference, with safe
    batch-mates still vectorised. Exercised two ways: the guard
    threshold lowered so ordinary docs trip it (mixed risky/safe batch),
    and a genuinely extreme model (|lr| near 2^62) where the UNlowered
    guard must fire on its own — there the vectorised path would truly
    wrap."""
    import hashlib
    import random

    import pandas as pd

    from tern_ep_data_pipeline_spark.streaming.curation import (
        _DsirFastScorer,
    )

    rng = random.Random(23)
    prefix, buckets = b"dsir:", 64
    table = {b: rng.randint(-10**12, 10**12) for b in range(64)}

    vocab = [f"t{i}" for i in range(50)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8)))
        for _ in range(10)
    ]
    texts.insert(3, " ".join(rng.choice(vocab) for _ in range(40)))  # risky

    # (a) lowered threshold: the 40-token doc reroutes, others stay fast
    low = _DsirFastScorer(table, prefix, buckets)
    low.OVERFLOW_GUARD_PICO = 2 * 20 * low.max_abs_pico  # nt_limit = 20
    got = low.score(pd.Series(texts)).tolist()
    assert got == [_reference_score(t, table, prefix, buckets) for t in texts]
    assert len(low.code2tok) > 0  # the safe docs did run vectorised

    # (b) default guard, extreme model: one bucket's |lr| is so large
    # that ~8 occurrences exceed int64 — the vectorised sum would wrap
    big = dict(table)
    hot_tok = "t7"
    hb = int(hashlib.md5(prefix + hot_tok.encode()).hexdigest()[:15], 16)
    big[hb % buckets] = 1 << 60
    hot_text = " ".join([hot_tok] * 64)  # worst case >> 2^63
    scorer = _DsirFastScorer(big, prefix, buckets)
    exp = _reference_score(hot_text, big, prefix, buckets)
    assert exp > (1 << 63) // 1_000_000  # int64 truly insufficient
    assert int(scorer.score(pd.Series([hot_text]))[0]) == exp


def test_md5np_hypothesis_property():
    """Property pin for the vectorised MD5: byte-equality with hashlib
    over arbitrary byte strings (any length — exercises both the
    single-block kernel and the hashlib fallback) and arbitrary batch
    compositions (mixed lengths in one call)."""
    import hashlib

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tern_ep_data_pipeline_spark.operators.md5np import md5_hex60

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=120), max_size=40))
    def check(msgs):
        got = md5_hex60(msgs)
        exp = np.array(
            [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs],
            dtype=np.int64,
        )
        assert got.shape == exp.shape and (got == exp).all()

    check()


def test_dsir_fast_scorer_partitioning_invariant(spark, tmp_path):
    """The fast kernel's per-task state (stable codes, pair tables,
    memos) is pure CACHING — scores are a per-document function, so any
    partitioning must produce integer-identical results (the
    test_determinism contract applied to the scorer)."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    docs = _varied_corpus(spark, n=40)
    path = str(tmp_path / "ratio_part")
    write_dsir_ratio_artifact(docs, docs.where("doc_id % 2 = 0"), path,
                              buckets=256)
    layouts = [docs.coalesce(1), docs.repartition(7), docs.repartition(13)]
    outs = [
        {r["doc_id"]: r["logweight_micro"]
         for r in dsir_scored_stream(df, path).collect()}
        for df in layouts
    ]
    assert outs[0] == outs[1] == outs[2]
