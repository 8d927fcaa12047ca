"""Batch-keyed index-read pruning (operators.bloom + the one regime gate,
memguard.index_past_broadcast).

The contract under test: the gate changes the PLAN (index rows that
cannot join are dropped at the scan), never the RESULT — every gated
consumer is pinned identical on both routes, and the Bloom kernel itself
is pinned for the property the equality proofs rest on: no false
negatives, under any partitioning of the build side.
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import bloom
from tern_ep_data_pipeline_spark.operators import dedup_index as di
from tern_ep_data_pipeline_spark.operators import index_log


# ------------------------------------------------------------- kernel

def test_bloom_no_false_negatives_any_partitioning(spark):
    """Every inserted key tests positive, and the bitmap is identical no
    matter how the build side is partitioned (partial bitmaps OR-fold to
    the same bits) — the invariant the decision-preservation argument
    needs."""
    rng = random.Random(42)
    keys = [rng.randrange(-(1 << 62), 1 << 62) for _ in range(5_000)]
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    specs = [
        bloom.build_key_bloom(
            kdf.repartition(p).select(bloom.bloom_key(F.col("k")).alias("__bk")),
            fpp=0.01,
        )
        for p in (1, 3, 11)
    ]
    assert specs[0].bitmap == specs[1].bitmap == specs[2].bitmap, (
        "partial-bitmap OR-fold must be partitioning-independent"
    )
    kept = bloom.prune_by_bloom(kdf, bloom.bloom_key(F.col("k")), specs[0])
    assert kept.count() == kdf.count(), "no false negatives, ever"


def test_bloom_false_positive_rate_and_empty_batch(spark):
    """Non-members survive at ~fpp (here: well under 5x the asked 1%),
    and an EMPTY batch's filter prunes the whole index — vacuously
    decision-preserving since an empty batch joins nothing."""
    members = spark.range(2_000)
    spec = bloom.build_key_bloom(
        members.select(bloom.bloom_key(F.col("id")).alias("__bk")), fpp=0.01
    )
    others = spark.range(2_000, 52_000)
    fp = bloom.prune_by_bloom(others, bloom.bloom_key(F.col("id")), spec).count()
    assert fp / 50_000 < 0.05

    empty = bloom.build_key_bloom(
        spark.range(0).select(bloom.bloom_key(F.col("id")).alias("__bk"))
    )
    assert (
        bloom.prune_by_bloom(others, bloom.bloom_key(F.col("id")), empty).count()
        == 0
    )


# ------------------------------------------- consumer equality pins

def _corpus(spark, n=40, seed=7):
    rng = random.Random(seed)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(30)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch(spark, corpus_rows, start_id=1000):
    """A batch with an exact dup, a near dup, and fresh docs — ids above
    the corpus range (gram-index monotonicity contract)."""
    dup = corpus_rows[0][1]
    near = dup.rsplit(" ", 1)[0] + " omega"
    rows = [
        (start_id, dup),
        (start_id + 1, near),
        (start_id + 2, "totally fresh content about bloom filters and scans"),
        (start_id + 3, "another fresh one\nshared line\nunique tail"),
        (start_id + 4, "yet another\nshared line\ndifferent tail"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _line_frames(spark):
    corpus = spark.createDataFrame(
        [
            (1, "shared line\nunique a\nboiler"),
            (2, "shared line\nunique b\nboiler"),
            (3, "unique c only"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "shared line\nnew body here"),
            (101, "boiler\nfresh per-doc text"),
        ],
        "doc_id long, text string",
    )
    return corpus, batch


def _gated_consumer(spark, tmp_path, kind):
    """Build ``kind``'s index and return ``run()``, one read of the
    consumer against it."""
    path = str(tmp_path / "idx")
    if kind in ("gram", "chunk"):
        corpus = _corpus(spark)
        batch = _batch(spark, corpus.collect())
    else:
        corpus, batch = _line_frames(spark)
    if kind == "gram":
        di.build_gram_index(corpus, path, min_tokens=8)
        return lambda: di.clean_against_gram_index(
            spark, batch, path, min_tokens=8
        )
    if kind == "chunk":
        di.build_chunk_index(corpus, path, chunk_tokens=10)
        return lambda: di.chunk_stats_against_index(
            spark, batch, path, chunk_tokens=10
        )
    di.build_line_index(corpus, path, min_line_chars=3)
    read = (
        di.clean_against_line_index if kind == "line"
        else di.boilerplate_lines_report
    )
    return lambda: read(spark, batch, path, min_docs=2, min_line_chars=3)


@pytest.mark.parametrize("kind", ["gram", "chunk", "line", "boilerplate"])
def test_index_prune_gate_identical(spark, tmp_path, kind):
    """Every gated incremental index read gives the same rows on both
    routes. Under the default broadcast threshold a small index is read
    whole (``tern.index_prune`` = direct); with the threshold at -1
    every index is past the gate, so the read is first pruned by the
    batch's own keys (= prune). The span batch, the fifth consumer, is
    pinned by ``test_streaming_span_dedup_bloom_identical``."""
    run = _gated_consumer(spark, tmp_path, kind)
    sc = spark.sparkContext
    sc.setLocalProperty("tern.index_prune", None)
    direct = _sorted_rows(run())
    assert sc.getLocalProperty("tern.index_prune") == "direct"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pruned = _sorted_rows(run())
        assert sc.getLocalProperty("tern.index_prune") == "prune"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert pruned == direct


def test_streaming_span_dedup_bloom_identical(spark, tmp_path):
    """The streaming sink's read: two sequential micro-batches through
    ``span_dedup_batch`` on the direct route and on the pruned route
    (threshold -1 puts every index past the gate) produce identical
    cleaned output AND leave equivalent index decisions for the later
    batch (batch 2's cleaning sees batch 1's appended grams either
    way)."""
    from tern_ep_data_pipeline_spark.streaming.curation import span_dedup_batch

    base = "the quick brown fox jumps over the lazy dog again and again extra tail"
    b1 = spark.createDataFrame(
        [(1, base), (2, "fully distinct first-batch content with enough tokens here")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        # doc 10 pastes batch-1's doc-1 text — its span must be cut
        [(10, base + " plus a novel suffix of its very own"),
         (11, "second batch brand new document with its own words entirely")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    outs = {}
    try:
        for route, thr in (("direct", old), ("prune", "-1")):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
            idx = str(tmp_path / f"idx_{route}")
            r1 = span_dedup_batch(b1, idx, memory_guard=False).collect()
            sc.setLocalProperty("tern.index_prune", None)
            r2 = span_dedup_batch(b2, idx, memory_guard=False).collect()
            assert sc.getLocalProperty("tern.index_prune") == route
            outs[route] = (sorted(map(tuple, r1)), sorted(map(tuple, r2)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert outs["direct"] == outs["prune"]


def test_bloom_prune_actually_prunes(spark, tmp_path):
    """The point of the filter: with a batch far smaller than the corpus,
    the surviving index fraction is near batch-share, not 1.0."""
    corpus = _corpus(spark, n=400, seed=3)
    path = str(tmp_path / "gidx")
    di.build_gram_index(corpus, path, min_tokens=8)
    scan = index_log.scan(spark, path, "grams")
    total = scan.count()
    batch = spark.createDataFrame(
        [(5000, "one tiny fresh document that shares no grams at all")],
        "doc_id long, text string",
    )
    keys = di._gram_first_table(batch, "doc_id", "text", 8, 1 << 24)
    kept = bloom.prune_index_by_keys(scan, ["gram_hash"], keys).count()
    assert kept < 0.1 * total, (kept, total)


def test_prune_strategies_agree(spark, tmp_path):
    """The two prune strategies (exact broadcast semi, Arrow bloom) and
    the unpruned path produce identical downstream decisions; semi keeps
    exactly the true members, bloom a superset."""
    corpus = _corpus(spark, n=120, seed=9)
    path = str(tmp_path / "gidx")
    di.build_gram_index(corpus, path, min_tokens=8)
    scan = index_log.scan(spark, path, "grams")
    batch = _batch(spark, corpus.collect(), start_id=9000)
    keys = di._gram_first_table(batch, "doc_id", "text", 8, 1 << 24)

    semi = bloom.prune_index_by_keys(scan, ["gram_hash"], keys, strategy="semi")
    blm = bloom.prune_index_by_keys(scan, ["gram_hash"], keys, strategy="bloom")
    semi_keys = {r["gram_hash"] for r in semi.select("gram_hash").distinct().collect()}
    bloom_keys = {r["gram_hash"] for r in blm.select("gram_hash").distinct().collect()}
    assert semi_keys <= bloom_keys, "bloom must be a superset (no false negatives)"

    # end-to-end decisions equal under either forced strategy — force at
    # the ONE shared chokepoint (bloom.prune_index_by_keys), which every
    # gated consumer routes through (the dedup_index consumers AND
    # substring_dedup's index prune); threshold -1 opens the gate
    plain = _sorted_rows(di.clean_against_gram_index(spark, batch, path, min_tokens=8))
    orig = bloom.prune_index_by_keys
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for strat in ("semi", "bloom"):
            calls = []

            def forced(idx, kc, kf, size_hint=None, strategy="auto",
                       _s=strat, _o=orig, _c=calls):
                _c.append(1)
                return _o(idx, kc, kf, strategy=_s)

            # consumers resolve the attribute on the bloom module object at
            # call time, so patching the module attribute reaches them all
            bloom.prune_index_by_keys = forced
            try:
                got = _sorted_rows(
                    di.clean_against_gram_index(spark, batch, path, min_tokens=8)
                )
            finally:
                bloom.prune_index_by_keys = orig
            assert calls, f"prune chokepoint not exercised under {strat}"
            assert got == plain, strat
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------------- r13 scale closers

def test_geometry_honors_fpp_at_10m_keys():
    """r12 verdict #1a: with an ``expected`` estimate the bitmap is
    sized for the requested rate — MEASURED fpp at 10M inserted keys
    stays within 2x the requested 1% (pure numpy kernel; no Spark)."""
    import numpy as np

    n = 10_000_000
    num_bits, num_hashes = bloom._geometry(n, 0.01)
    assert num_bits < bloom._MAX_BITS, "10M keys must not hit the cap"
    rng = np.random.default_rng(1234)
    members = rng.integers(0, 1 << 62, size=n, dtype=np.int64).view(np.uint64)
    bitmap = np.zeros(num_bits // 8, dtype=np.uint8)
    bloom._set_bits(bitmap, members, num_bits, num_hashes)
    # probe a disjoint stream (different high bit ⇒ no overlap)
    probes = (
        rng.integers(0, 1 << 62, size=1_000_000, dtype=np.int64)
        + (np.int64(1) << np.int64(62))
    ).view(np.uint64)
    hits = bloom._test_bits(bitmap, probes, num_bits, num_hashes).sum()
    measured = hits / 1_000_000
    assert measured <= 0.02, f"measured fpp {measured:.4f} > 2x requested 1%"


def test_prune_threads_expected_from_size_hint(spark, monkeypatch):
    """ADVICE r12 #1: the auto path derives ``expected`` from the byte
    estimate it already has, so ``PRUNE_FPP`` is honoured on the bloom
    strategy instead of silently using the fixed default geometry."""
    captured = {}
    orig = bloom.build_key_bloom

    def spy(keys, fpp=None, expected=None, key_col="__bk"):
        captured["expected"] = expected
        captured["fpp"] = fpp
        return orig(keys, fpp=bloom.PRUNE_FPP, expected=expected, key_col=key_col)

    monkeypatch.setattr(bloom, "build_key_bloom", spy)
    idx = spark.range(100).select(F.col("id").alias("k"))
    keys = spark.range(50).select(F.col("id").alias("k"))
    hint = 64 << 20  # past the semi gate ⇒ bloom strategy
    bloom.prune_index_by_keys(idx, ["k"], keys, size_hint=hint).count()
    assert captured["fpp"] == bloom.PRUNE_FPP
    row_bytes = bloom._est_row_bytes(keys.schema)
    assert captured["expected"] == hint // row_bytes
    # and the geometry actually differs from the fixed default
    bits, hashes = bloom._geometry(captured["expected"], bloom.PRUNE_FPP)
    assert (bits, hashes) != (bloom._DEFAULT_BITS, bloom._DEFAULT_HASHES)


def test_prune_warns_when_bitmap_cap_saturates(spark):
    """Past the 32 MiB cap the prune degrades LOUDLY: a RuntimeWarning
    names the predicted fpp instead of letting the filter silently stop
    pruning (still correct — superset — just no longer useful)."""
    import warnings as _warnings

    idx = spark.range(100).select(F.col("id").alias("k"))
    keys = spark.range(50).select(F.col("id").alias("k"))
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        bloom.prune_index_by_keys(idx, ["k"], keys, size_hint=1 << 40).count()
    msgs = [str(w.message) for w in rec if w.category is RuntimeWarning]
    assert any("largely stopped pruning" in m for m in msgs), msgs


def test_prune_by_bloom_key_column_collision(spark):
    """ADVICE r12 #2: a caller frame that already owns a ``__bk``
    column keeps it — the probe uses a generated collision-free temp
    name instead of silently overwriting the payload."""
    df = spark.createDataFrame(
        [(1, "payload-a"), (2, "payload-b"), (3, "payload-c")],
        "k long, __bk string",
    )
    spec = bloom.build_key_bloom(
        spark.createDataFrame([(1,), (3,)], "k long").select(
            bloom.bloom_key(F.col("k")).alias("__bk")
        ),
        fpp=0.01,
    )
    out = bloom.prune_by_bloom(df, bloom.bloom_key(F.col("k")), spec)
    rows = {(r["k"], r["__bk"]) for r in out.collect()}
    assert (1, "payload-a") in rows and (3, "payload-c") in rows
    assert out.columns == ["k", "__bk"], "payload __bk column must survive"


def test_match_index_semi_prune_regime_gate(spark, tmp_path):
    """r14: past the broadcast threshold the match joins would shuffle
    the corpus-sized index per batch (BLOOM_r14 measured 223 MB/batch
    at a 150k-doc index); the regime gate then broadcast-semi-prunes
    both index frames by the batch's own keys — decision-identical,
    map-side, O(batch) survivors. Below the threshold the gate stays
    direct."""
    corpus = _corpus(spark)
    rows = corpus.collect()
    path = str(tmp_path / "pidx")
    di.build_dedup_index(corpus, path, num_hashes=16, bands=8)
    batch = _batch(spark, rows)
    sc = spark.sparkContext

    # small index, default threshold -> direct
    direct = di.match_against_index(spark, batch, path, num_hashes=16, bands=8)
    got_direct = _sorted_rows(direct)
    assert sc.getLocalProperty("tern.index_prune") == "direct"

    # force the shuffle regime: threshold below the index estimate
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        pruned = di.match_against_index(
            spark, batch, path, num_hashes=16, bands=8
        )
        got_pruned = _sorted_rows(pruned)
        assert sc.getLocalProperty("tern.index_prune") == "prune"
        plan = pruned._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan  # the prune is in the plan
        assert got_pruned == got_direct  # decisions identical
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
