"""Tests for the curation operators: connected components, deterministic
sampling, budget selection, PII scrub, TF-IDF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import sampling, text
from tern_ep_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from tern_ep_data_pipeline_spark.operators.index_log import scan


# ---------------------------------------------------------------- graph

@pytest.mark.parametrize("threshold", [0, 200_000])
def test_connected_components_basic(spark, threshold):
    """Both execution paths (0 forces distributed, 200k takes the
    driver union-find) produce identical components."""
    # two components {1,2,3,4} (path) and {10,11}; 20-21-22 triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=threshold).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_derated_checkpoint_identical(spark, monkeypatch):
    """Under memory pressure the CC iteration truncates lineage with a
    reliable disk checkpoint instead of resident localCheckpoint blocks
    (the SPILL_r05 2g OOM derate) — the clusters must be identical."""
    from tern_ep_data_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    normal = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    monkeypatch.setattr(graph, "_tight_memory", lambda spark: True)
    derated = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert derated == normal


def test_connected_components_long_path(spark):
    """A 64-node path converges well inside the iteration cap on the
    distributed path (pointer jumping gives O(log n) rounds)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    out = connected_components(edges, max_iter=10, driver_threshold=0)
    assert out.where(F.col("component") != 0).count() == 0
    assert out.count() == 64


def test_dedup_clusters_canonical_keep(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (2, 3)], "id_a long, id_b long"
    )
    clusters = dedup_clusters(pairs)
    keep = {r["node"] for r in clusters.where("node = component").collect()}
    assert keep == {5, 2}  # canonical = min id per cluster


def test_dedup_clusters_lazy_small_equals_eager(spark):
    """The r15 in-plan union-find (lazy_small=True) must return exactly
    the eager adaptive path's rows: chain, star, duplicate/reversed
    edges, self-loops, and the empty graph."""
    import pytest

    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        [(5, 1), (5, 2), (5, 3), (9, 8), (7, 6), (6, 5)],
        [(2, 1), (1, 2), (3, 3)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        eager = sorted(map(tuple, dedup_clusters(df).collect()))
        lazy = sorted(map(tuple, dedup_clusters(df, lazy_small=True).collect()))
        assert eager == lazy, edges
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty, lazy_small=True).collect() == []
    # the loud guard: past max_edges an UNROUTED lazy caller (no
    # corpus_rows) raises instead of silently building a huge single-task
    # table
    big = spark.range(50).selectExpr("id as id_a", "id + 1 as id_b")
    with pytest.raises(Exception, match="lazy_small"):
        dedup_clusters(big, lazy_small=True, max_edges=10).collect()


def test_dedup_clusters_lazy_routing_scale_safe(spark):
    """r16 (VERDICT r15 #3): the build-time route replaces the >cap
    RuntimeError. A >max_edges edge set with corpus_rows past the lazy cap
    routes to the DISTRIBUTED path and returns correct components instead
    of raising; a small-corpus declaration disables the edge backstop so a
    dense small graph degrades, never errors."""
    big = spark.range(50).selectExpr("id as id_a", "id + 1 as id_b")
    expected = sorted(map(tuple, dedup_clusters(big).collect()))
    # corpus_rows > lazy_rows_cap: distributed fallback, no raise
    routed = dedup_clusters(
        big, lazy_small=True, max_edges=10,
        corpus_rows=1_000, lazy_rows_cap=100,
    )
    assert sorted(map(tuple, routed.collect())) == expected
    # corpus_rows <= cap: stays lazy AND the max_edges backstop is off
    # (node count is what bounds the one-task state, and it is declared)
    lazy = dedup_clusters(
        big, lazy_small=True, max_edges=10,
        corpus_rows=51, lazy_rows_cap=100,
    )
    assert sorted(map(tuple, lazy.collect())) == expected


def test_dedup_clusters_lazy_null_edges_and_mixed_types(spark):
    """ADVICE r15: null edges are dropped (not a TypeError), and int/bigint
    edge columns widen to the common type in the declared schema. The
    lazy and eager routes give the same exact rows for a batch holding a
    null edge and ids above 2^53 (no float64 round trip)."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (2, 5)], "id_a int, id_b bigint"
    )
    out = dedup_clusters(df, lazy_small=True)
    assert dict(out.dtypes) == {"node": "bigint", "component": "bigint"}
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, 1), (2, 1), (5, 1)]

    big = 2**53
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (2, 5), (big + 3, big + 1)],
        "id_a bigint, id_b bigint",
    )
    want = [(1, 1), (2, 1), (5, 1), (big + 1, big + 1), (big + 3, big + 1)]
    for lazy in (True, False):
        got = sorted(map(tuple, dedup_clusters(df, lazy_small=lazy).collect()))
        assert got == want, lazy


# ------------------------------------------------------------- sampling

def test_hash_sample_deterministic_and_sized(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    s1 = sampling.hash_sample(df, "k", 0.2, salt="a")
    s2 = sampling.hash_sample(df, "k", 0.2, salt="a")
    assert s1.count() == s2.count()
    assert sorted(r["k"] for r in s1.collect()) == sorted(
        r["k"] for r in s2.collect()
    )
    # within 3% of the target fraction on 10k keys
    assert abs(s1.count() / 10_000 - 0.2) < 0.03
    # different salt -> a genuinely different (near-independent) sample
    s3 = sampling.hash_sample(df, "k", 0.2, salt="b")
    overlap = s1.join(s3, "k").count()
    assert abs(overlap / 10_000 - 0.04) < 0.02  # ~fraction^2


def test_hash_sample_fraction_edges(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    assert sampling.hash_sample(df, "k", 0.0).count() == 0
    assert sampling.hash_sample(df, "k", 1.0).count() == 100
    with pytest.raises(ValueError):
        sampling.hash_sample(df, "k", 1.5)


def test_stratified_hash_sample(spark):
    df = (
        spark.range(6_000)
        .withColumnRenamed("id", "k")
        .withColumn(
            "dom", F.when(F.col("k") % 2 == 0, "web").otherwise("code")
        )
    )
    out = sampling.stratified_hash_sample(
        df, "k", "dom", {"web": 0.5, "code": 0.1}
    )
    by = {r["dom"]: r["n"] for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert abs(by["web"] / 3_000 - 0.5) < 0.05
    assert abs(by["code"] / 3_000 - 0.1) < 0.05
    # unlisted stratum defaults to 0
    out2 = sampling.stratified_hash_sample(df, "k", "dom", {"web": 0.5})
    assert out2.where("dom = 'code'").count() == 0


def test_budget_select(spark):
    rows = [
        ("a", 1, 400), ("a", 2, 400), ("a", 3, 400),
        ("b", 4, 900), ("b", 5, 200),
    ]
    df = spark.createDataFrame(rows, "src string, doc long, tokens long")
    out = sampling.budget_select(
        df, "src", [F.col("tokens").desc(), F.col("doc")], "tokens", 1000
    )
    got = {(r["src"], r["doc"], r["cum_weight"]) for r in out.collect()}
    # a: docs 1,2 fit (800), doc 3 would hit 1200 > 1000; b: 900 then 1100 > 1000
    assert got == {("a", 1, 400), ("a", 2, 800), ("b", 4, 900)}


# ------------------------------------------------------------ PII scrub

def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call 555-123-4567 or (02) 9999 1234"),
            (3, "host 192.168.0.1 up"),
            (4, "clean text with numbers 42 and 2024"),
        ],
        "id long, text string",
    )
    out = df.select(
        "id",
        F.expr(text.scrub_pii_sql("text")).alias("scrubbed"),
        F.expr(text.pii_hits_sql("text")).alias("hits"),
    )
    got = {r["id"]: (r["scrubbed"], r["hits"]) for r in out.collect()}
    assert got[1] == ("mail <EMAIL> now", 1)
    assert "<PHONE>" in got[2][0] and got[2][1] >= 1
    assert got[3] == ("host <IP> up", 1)
    assert got[4] == ("clean text with numbers 42 and 2024", 0)


# --------------------------------------------------------------- TF-IDF

def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(df, "doc_id", "text", k=2)
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out.collect()}
    # doc 1: apple tf=2 df=1 beats banana tf=1
    assert rows[(1, 1)][0] == "apple"
    assert rows[(1, 1)][1] == pytest.approx(2 * 1.098612, abs=1e-5)
    # doc 3: cherry tf=3 df=2
    assert rows[(3, 1)][0] == "cherry"
    # 'common' (df=3 -> idf=0) scores 0 and never outranks rarer terms
    assert all(term != "common" or rank > 1 for (_, rank), (term, _) in rows.items())
    assert out.count() == 6  # k=2 per doc


# ------------------------------------------------------- streaming path

def test_curated_document_stream(spark, tmp_path):
    """Streaming curation: the quality gate drops shorts, the sample is
    deterministic, and a duplicate arriving in a later micro-batch is
    dropped while its content hash is in watermark state."""
    import datetime as dt

    from tern_ep_data_pipeline_spark.streaming import curated_document_stream

    schema = "doc_id long, text string, ingest_ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [
        (1, "a genuinely long enough document body one", t0),
        (2, "short", t0),  # fails the quality gate
        (3, "another long enough document body two here", t0),
    ]
    batch2 = [
        # same content as doc 1 (normalisation collapses whitespace)
        (4, "a  genuinely   long enough document body one", t0 + dt.timedelta(minutes=5)),
        (5, "a fresh long enough document body three here", t0 + dt.timedelta(minutes=5)),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    out = curated_document_stream(stream, min_chars=20)
    q = (
        out.writeStream.format("memory")
        .queryName("curated_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from curated_docs").collect()
    kept = sorted(r["doc_id"] for r in rows)
    assert kept == [1, 3, 5]  # 2 too short; 4 is a content-dup of 1
    assert all(r["content_hash"] for r in rows)


def test_curated_stream_sample_matches_batch(spark, tmp_path):
    """The streaming hash sample selects exactly the documents the batch
    sampler selects — same salt, same decisions."""
    import datetime as dt

    from tern_ep_data_pipeline_spark.operators import sampling
    from tern_ep_data_pipeline_spark.streaming import curated_document_stream

    schema = "doc_id long, text string, ingest_ts timestamp"
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, f"document body number {i} padded to pass the gate", t0)
        for i in range(200)
    ]
    src = str(tmp_path / "docs")
    df = spark.createDataFrame(rows, schema)
    df.write.parquet(src)

    stream = spark.readStream.format("parquet").schema(schema).load(src)
    out = curated_document_stream(stream, sample_fraction=0.3, salt="mix")
    q = (
        out.writeStream.format("memory")
        .queryName("sampled_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"] for r in spark.sql("select doc_id from sampled_docs").collect()
    }
    batch = {
        r["doc_id"]
        for r in sampling.hash_sample(df, "doc_id", 0.3, salt="mix").collect()
    }
    assert streamed == batch and batch


# ------------------------------------------------------- ANN evaluation

def test_ann_recall_harness(spark):
    """recall_at_k invariants on the driver embeddings: probing every IVF
    list recovers the exact result (recall 1.0), recall is monotone in
    n_probe, and SRP-LSH recall rises as planes shrink the bucket count."""
    from tern_ep_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dims = len(emb.first()["embedding"])
    exact = sim.cosine_topk(emb, queries, k=10)

    def mean_recall(approx):
        return sim.recall_at_k(exact, approx).agg(F.avg("recall")).first()[0]

    n_lists = emb.select("label").distinct().count()
    r_all = mean_recall(sim.ivf_topk(emb, queries, k=10, n_probe=n_lists))
    assert r_all == pytest.approx(1.0)  # exhaustive probe == brute force

    r2 = mean_recall(sim.ivf_topk(emb, queries, k=10, n_probe=2))
    r4 = mean_recall(sim.ivf_topk(emb, queries, k=10, n_probe=4))
    assert r2 <= r4 <= 1.0 and r2 > 0

    r_lsh4 = mean_recall(sim.ann_lsh_topk(emb, queries, dims, k=10, planes=4))
    r_lsh8 = mean_recall(sim.ann_lsh_topk(emb, queries, dims, k=10, planes=8))
    assert r_lsh8 <= r_lsh4  # bigger buckets -> recall never drops


def test_minhash_degenerate_bucket_cap(spark):
    """The LSH bucket-size guard: identical boilerplate docs flood one
    band bucket; capping drops that bucket from the candidate join (the
    quadratic path), while the default cap leaves small corpora intact."""
    from tern_ep_data_pipeline_spark.operators import dedup

    rows = [(i, "the same boilerplate licence header text " * 3) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    capped = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4, max_bucket=5,
        cap_stats=stats,
    )
    # the cap is not silent (VERDICT r9 #4): the stats dict reports what
    # was dropped — 12 identical docs fill one bucket per band (4), each
    # holding all 12 band rows
    assert stats["n_buckets_dropped"] == 4
    assert stats["n_band_rows_dropped"] == 48
    assert stats["n_band_rows"] == 48
    assert capped.count() == 0  # every bucket holds all 12 docs -> dropped
    dedup.release_staged(spark)
    full = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4
    )
    assert full.count() == 12 * 11 // 2  # default cap doesn't bite
    dedup.release_staged(spark)


def test_cc_distributed_equals_driver_on_real_pairs(spark, sf_dir):
    """The oracle-checked suite takes the driver union-find branch (tiny
    edge sets at test SF); pin the distributed loop — the 100 TB path — to
    identical cluster assignments on the same real near-dup pairs."""
    from tern_ep_data_pipeline_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.2,
        hash_mode="portable",
    )
    via_driver = {
        (r["node"], r["component"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    via_distributed = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs, "id_a", "id_b", driver_threshold=0
        ).collect()
    }
    assert via_driver == via_distributed and via_driver
    dedup.release_staged(spark)


# ------------------------------------------------- product quantisation

def test_pq_roundtrip_and_recall(spark, sf_dir):
    """PQ pipeline on the driver embeddings: deterministic codebooks,
    compact codes, raw-ADC recall above the data-limited floor, and the
    production shortlist+re-rank composition recovering most of the true
    euclidean neighbours."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = sim.pq_train(emb, m=8, k=16, iters=4)
    d = len(emb.first()["embedding"])
    assert books.shape == (8, 16, d // 8)
    # deterministic: retraining yields identical codebooks
    books2 = sim.pq_train(emb, m=8, k=16, iters=4)
    assert np.array_equal(books, books2)
    # the over-cap hash-range pre-filter (the TakeOrdered merge-funnel
    # guard) must select the SAME top-k sample: codebooks identical to
    # the below-cap path trained on the full corpus top-k
    n = emb.count()
    books_pref = sim.pq_train(emb, m=8, k=16, iters=4, sample=n // 2)
    books_ref = sim.pq_train(emb.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(n // 2),
                             m=8, k=16, iters=4)
    assert np.array_equal(books_pref, books_ref)
    # force the statistics-sized pre-filter (VERDICT r9 #6: one job, no
    # corpus count) into its narrow-estimate regime: the exact fallback
    # must keep codebooks identical
    orig = sim._VEC_ROW_BYTES_UPPER_MULT
    sim._VEC_ROW_BYTES_UPPER_MULT = 1e-6
    try:
        books_forced = sim.pq_train(emb, m=8, k=16, iters=4, sample=n // 2)
    finally:
        sim._VEC_ROW_BYTES_UPPER_MULT = orig
    assert np.array_equal(books_forced, books_ref)

    codes = sim.pq_encode(emb, books)
    row = codes.first()
    assert len(row["pq_code"]) == 8
    assert codes.count() == emb.count()

    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = sim.pq_topk(codes, books, queries, k=10)
    assert approx.groupBy("query_id").count().agg(F.max("count")).first()[0] <= 10

    # euclidean ground truth via exact pairwise distances on the driver
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qrows = queries.collect()
    exact_sets = {}
    for qr in qrows:
        qv = np.array(qr["embedding"], dtype=np.float64)
        dist = ((x - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, dist))
        top = [i for i in order if ids[i] != qr["query_id"]][:10]
        exact_sets[qr["query_id"]] = {ids[i] for i in top}

    def recall(df):
        hits = total = 0
        for r in df.collect():
            total += 1
            if r["vec_id"] in exact_sets[r["query_id"]]:
                hits += 1
        return hits / total

    # raw ADC is data-limited on uniform random 16-dim vectors (measured
    # ~0.24 at this setting); pin a conservative floor
    r_adc = recall(approx)
    assert r_adc >= 0.15, f"PQ ADC recall collapsed: {r_adc}"

    # shortlist + exact re-rank is the production pattern: quantisation
    # error only has to land true neighbours in the shortlist
    reranked = sim.pq_topk_rerank(codes, emb, books, queries, k=10, shortlist=100)
    r_rr = recall(reranked)
    assert r_rr >= 0.6, f"re-ranked recall collapsed: {r_rr}"
    assert r_rr >= r_adc


# --------------------------------------------------- end-to-end plan

def test_curation_memory_floor_matches_spill_grid():
    """The plan-time sizing guard reproduces the measured SPILL_r05 grid at
    sf10 density (58 MiB compressed documents input): 8g/32 and 3g/32
    completed, 2g/32 heap-OOMed, 2g/8 exhausted execution memory."""
    from tern_ep_data_pipeline_spark.plans.curation import _memory_floor_message

    input_bytes = 58 << 20
    ok = lambda heap_g, cores: _memory_floor_message(
        input_bytes, heap_g << 30, cores, 0.6
    )
    assert ok(8, 32) is None
    assert ok(3, 32) is None
    msg = ok(2, 32)
    assert msg is not None and "sizing invariant" in msg
    assert "memory_guard=False" in msg  # the override is named
    assert ok(2, 8) is not None


def test_parse_executor_memory():
    """Spark's getSizeAsMb semantics: unitless = MiB; k/m/g/t suffixes
    with optional trailing 'b'."""
    from tern_ep_data_pipeline_spark.plans.curation import (
        _parse_executor_memory as p,
    )

    assert p("4g") == 4 << 30
    assert p("4096") == 4 << 30  # unitless means MiB, NOT bytes
    assert p("512m") == 512 << 20
    assert p("512MB") == 512 << 20
    assert p("1.5g") == int(1.5 * (1 << 30))
    assert p("2048k") == 2048 << 10


def test_curation_memory_guard_silent_when_sized(spark):
    """On a comfortably-sized session the guard stays silent for small
    inputs and the override path accepts memory_guard=False."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import (
        _check_memory_floor,
        curate_corpus,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))], ["doc_id", "text"]
    )
    assert _check_memory_floor(docs) is None
    n = curate_corpus(docs, min_chars=5, memory_guard=False).count()
    dedup.release_staged(spark)
    assert n == 1


def test_curate_corpus_plan(spark, sf_dir):
    """The composed curation plan on the driver documents: exact dups
    collapse, near-dup clusters keep exactly their canonical member,
    survivors pass the quality gate, and the whole run is reproducible."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.graph import dedup_clusters
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curate_corpus(
        docs, minhash_threshold=0.2, num_hashes=16, bands=4, min_chars=10
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    dedup.release_staged(spark)

    # canonical members of near-dup clusters survive, non-canonicals don't
    exact = dedup.exact_dedup(docs, "doc_id", "text")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.2
    )
    clusters = {
        r["node"]: r["component"] for r in dedup_clusters(pairs).collect()
    }
    dedup.release_staged(spark)
    for node, comp in clusters.items():
        if node != comp:
            assert node not in kept, f"non-canonical {node} survived"
    canonicals = {n for n, c in clusters.items() if n == c}
    exact_ids = {r["doc_id"] for r in exact.select("doc_id").collect()}
    assert canonicals & exact_ids <= kept | {0}  # canonicals survive (gate aside)
    assert kept <= exact_ids  # nothing exact-duplicated survives

    # reproducible: a second run selects the identical corpus
    out2 = curate_corpus(
        docs, minhash_threshold=0.2, num_hashes=16, bands=4, min_chars=10
    )
    assert {r["doc_id"] for r in out2.select("doc_id").collect()} == kept
    dedup.release_staged(spark)

    # domain mixing folds in deterministically
    mixed = curate_corpus(
        docs, minhash_threshold=0.2, num_hashes=16, bands=4, min_chars=10,
        domain_col="source", domain_fractions={"src0": 1.0, "src1": 0.5},
    )
    mixed_ids = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    dedup.release_staged(spark)
    assert mixed_ids <= kept
    srcs = {r["source"] for r in docs.join(
        spark.createDataFrame([(i,) for i in mixed_ids], "doc_id long"), "doc_id"
    ).select("source").distinct().collect()}
    assert srcs <= {"src0", "src1"}


def test_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composition: probing every list with a full-corpus shortlist
    reproduces the exact euclidean top-k (the re-rank is exact once nothing
    is pruned); fewer probes trade recall for scan cost but keep the
    contract (<= k rows per query, ranked by true distance)."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = sim.pq_train(emb, m=8, k=16, iters=3)
    queries = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n_lists = emb.select("label").distinct().count()
    n_corpus = emb.count()

    full = sim.ivf_pq_topk(
        emb, books, queries, k=10, n_probe=n_lists, shortlist=n_corpus
    )
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    for qr in queries.collect():
        qv = np.array(qr["embedding"], dtype=np.float64)
        dist = ((x - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, np.round(dist, 6)))
        want = [ids[i] for i in order if ids[i] != qr["query_id"]][:10]
        got = [
            r["vec_id"]
            for r in sorted(
                full.where(F.col("query_id") == qr["query_id"]).collect(),
                key=lambda r: r["rank"],
            )
        ]
        assert got == want, f"query {qr['query_id']}"

    pruned = sim.ivf_pq_topk(emb, books, queries, k=10, n_probe=2, shortlist=50)
    per_q = {r["query_id"]: r["n"] for r in pruned.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 10 for v in per_q.values()) and per_q


# ------------------------------------------------------------------ BPE

def test_bpe_train_and_encode(spark):
    """BPE training learns the classic frequent-pair merges and encoding
    is deterministic, word-boundary-safe, and length-consistent."""
    from tern_ep_data_pipeline_spark.operators import bpe

    rows = [(i, "low low low low low lower lower newest newest") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.bpe_train(docs, num_merges=10)
    assert merges  # learned something
    # 'lo' must merge early: 'l','o' is the most frequent adjacent pair
    assert ("l", "o") == merges[0]
    # determinism
    assert merges == bpe.bpe_train(docs, num_merges=10)

    enc = bpe_out = bpe.bpe_encode(docs, merges)
    r = enc.first()
    assert r["n_tokens"] == len(r["tokens"]) > 0
    # every doc identical -> identical encodings
    assert enc.select("n_tokens").distinct().count() == 1
    # whole words compress to single tokens once fully merged
    toks = set(r["tokens"])
    assert "low</w>" in toks  # 5 occurrences -> merged to a full-word token

    # token budget integration: n_tokens weights budget_select directly
    sel = sampling.budget_select(
        enc.withColumn("src", F.lit("a")),
        "src", [F.col("doc_id")], "n_tokens", int(r["n_tokens"] * 2.5),
    )
    assert sel.count() == 2  # two docs fit in a 2.5-doc token budget


def test_bpe_word_frequencies_capped(spark):
    from tern_ep_data_pipeline_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "a b c a b a")], "doc_id long, text string"
    )
    wf = bpe.word_frequencies(docs, "text", max_words=2)
    rows = [(r["word"], r["freq"]) for r in wf.collect()]
    assert rows == [("a", 3), ("b", 2)]  # top-2 by freq, deterministic order


# -------------------------------------------------- incremental dedup

def test_incremental_dedup_index(spark, tmp_path):
    """Batch-vs-index dedup: exact dups, near dups, and fresh docs are
    classified without re-reading the corpus, and appending a batch makes
    later batches see it. 8 bands of 2 rows: one changed word in a
    12-word doc (J~0.75) still matches a band with P ~ 1-(1-J^2)^8 > 0.99."""
    from tern_ep_data_pipeline_spark.operators import dedup_index as di

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different text about spark partitions and shuffles"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    stats = di.build_dedup_index(corpus, idx, num_hashes=16, bands=8)
    assert stats["exact_rows"] == 2 and stats["band_rows"] == 16

    batch = spark.createDataFrame(
        [
            # exact dup of 1 (whitespace-normalised)
            (10, "the quick  brown fox jumps over the lazy dog again and again"),
            # near dup of 1 (one word changed)
            (11, "the quick brown fox jumps over the lazy cat again and again"),
            # fresh
            (12, "entirely new content mentioning neither foxes nor partitions at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in di.match_against_index(
            spark, batch, idx, num_hashes=16, bands=8
        ).collect()
    }
    assert got[10] == ("exact", 1)
    assert got[11] == ("near", 1)
    assert got[12] == ("fresh", None)

    # accept the fresh doc; the next batch now sees it
    fresh = batch.where("doc_id = 12")
    di.append_to_index(fresh, idx, num_hashes=16, bands=8)
    batch2 = spark.createDataFrame(
        [(20, "entirely new content mentioning neither foxes nor partitions at all")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in di.match_against_index(
            spark, batch2, idx, num_hashes=16, bands=8
        ).collect()
    }
    assert got2[20] == ("exact", 12)


def test_dedup_index_jaccard_verification(spark, tmp_path):
    """Signature-agreement verification rejects low-similarity band
    collisions: the same near-dup flips to fresh at a strict threshold."""
    from tern_ep_data_pipeline_spark.operators import dedup_index as di

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    di.build_dedup_index(corpus, idx, num_hashes=16, bands=8)
    batch = spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy cat again and again")],
        "doc_id long, text string",
    )
    loose = di.match_against_index(
        spark, batch, idx, num_hashes=16, bands=8, min_est_jaccard=0.3
    ).first()
    strict = di.match_against_index(
        spark, batch, idx, num_hashes=16, bands=8, min_est_jaccard=0.95
    ).first()
    assert loose["status"] == "near" and loose["match_id"] == 1
    assert strict["status"] == "fresh"


def test_curate_corpus_token_budget(spark, sf_dir):
    """Token-budgeted curation: per-domain cumulative REAL-token counts
    stop at the budget, and the selection is reproducible."""
    from tern_ep_data_pipeline_spark.operators import bpe, dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe.bpe_train(docs, num_merges=50)
    out = curate_corpus(
        docs, minhash_threshold=0.2, num_hashes=16, bands=4, min_chars=10,
        domain_col="source", bpe_merges=merges, token_budget=800,
    )
    rows = out.select("source", "doc_id", "n_tokens", "cum_weight").collect()
    dedup.release_staged(spark)
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        assert max(r["cum_weight"] for r in rs) <= 800, src
        assert all(r["n_tokens"] > 0 for r in rs)
    # budget requires a domain column
    import pytest as _pt

    with _pt.raises(ValueError):
        curate_corpus(docs, bpe_merges=merges, token_budget=100)


# ------------------------------------------------------------- sketches

def test_kmv_distinct_accuracy(spark):
    """KMV estimates a known cardinality within the expected error band,
    degenerates to exact counting below k, and the native HLL production
    path stays exercised."""
    from tern_ep_data_pipeline_spark.operators.sketch import kmv_distinct

    df = (
        spark.range(20_000)
        .withColumn("g", F.lit("big"))
        .withColumn("v", F.col("id") % 5_000)  # 5000 distinct
        .union(
            spark.range(10)
            .withColumn("g", F.lit("small"))
            .withColumn("v", F.col("id"))  # 10 distinct < k
        )
    )
    out = {r["g"]: r for r in kmv_distinct(df, ["g"], "v", k=64).collect()}
    big = out["big"]
    assert big["exact_distinct"] == 5_000
    # std error of KMV is ~1/sqrt(k-2) ~ 13%; allow 3 sigma
    assert abs(big["kmv_estimate"] - 5_000) / 5_000 < 0.4
    assert big["rel_error"] == pytest.approx(
        abs(big["kmv_estimate"] - 5_000) / 5_000, abs=1e-3
    )
    small = out["small"]
    assert small["kmv_estimate"] == 10.0 and small["rel_error"] == 0.0

    # the engine-specific production sketches still run (rows-only by nature)
    native = df.groupBy("g").agg(
        F.approx_count_distinct("v").alias("hll"),
        F.expr("approx_percentile(v, 0.5)").alias("p50"),
    ).collect()
    assert {r["g"] for r in native} == {"big", "small"}


def test_sampled_quantiles_portable(spark):
    """The deterministic-sample quantile twin: rerun-stable, close to the
    exact quantile on a known distribution."""
    from tern_ep_data_pipeline_spark.operators.sketch import sampled_quantiles

    df = (
        spark.range(50_000)
        .withColumn("g", F.lit("a"))
        .withColumn("v", (F.col("id") % 1000).cast("double"))
    )
    r1 = sampled_quantiles(df, ["g"], "v", (0.5,), fraction=0.2, key_col="id").first()
    r2 = sampled_quantiles(df, ["g"], "v", (0.5,), fraction=0.2, key_col="id").first()
    assert r1["q_0_5"] == r2["q_0_5"]  # deterministic
    assert abs(r1["q_0_5"] - 499.5) < 25  # near the true median


def test_weighted_hash_sample(spark):
    """Weighted sampling: deterministic, weight-proportional (heavier keys
    appear far more often across salts), excludes non-positive weights."""
    from tern_ep_data_pipeline_spark.operators.sampling import weighted_hash_sample

    df = spark.createDataFrame(
        [(k, 100.0 if k < 10 else 1.0) for k in range(1000)]
        + [(5000, 0.0), (5001, -3.0)],
        "k long, w double",
    )
    s1 = {r["k"] for r in weighted_hash_sample(df, "k", "w", 50).collect()}
    s2 = {r["k"] for r in weighted_hash_sample(df, "k", "w", 50).collect()}
    assert s1 == s2 and len(s1) == 50
    assert 5000 not in s1 and 5001 not in s1
    # the ten 100x-weighted keys should essentially always be selected
    heavy_hits = sum(
        len({r["k"] for r in weighted_hash_sample(df, "k", "w", 50, salt=s).collect()} & set(range(10)))
        for s in ("a", "b", "c")
    )
    assert heavy_hits >= 24  # ~30 expected (10 heavy keys x 3 salts)


def test_weighted_hash_sample_broadcast_derate_reported(spark, caplog):
    """The winner-set broadcast derate is reported, not silent (VERDICT
    r9 #4): above the cap the plan hands the semi-join to the optimizer
    AND says so; at/below the cap no derate message is emitted."""
    import logging

    from tern_ep_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(k, 1.0) for k in range(20)], "k long, w double")
    with caplog.at_level(logging.WARNING, logger=sampling.__name__):
        sampling.weighted_hash_sample(df, "k", "w", sampling._BROADCAST_WINNER_CAP + 1)
    assert any("broadcast derated" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=sampling.__name__):
        out = sampling.weighted_hash_sample(df, "k", "w", 5)
    assert not any("broadcast derated" in r.message for r in caplog.records)
    assert out.count() == 5  # forced-broadcast path still correct


def test_weighted_hash_sample_duplicate_keys(spark):
    """Documented multiplicity contract (ADVICE r8 #3): the ungrouped
    path semi-joins winning KEYS back, so rows sharing a winner's key
    all return — the result can exceed n rows, but the winner KEY set
    is distinct-ed and bounded by n, and the selection stays
    deterministic."""
    from tern_ep_data_pipeline_spark.operators.sampling import (
        weighted_hash_sample,
    )

    # every key appears 3x (twins share the key's hash/score)
    df = spark.createDataFrame(
        [(k, 1.0, c) for k in range(100) for c in range(3)],
        "k long, w double, copy long",
    )
    out = weighted_hash_sample(df, "k", "w", 10).collect()
    keys = {r["k"] for r in out}
    assert len(keys) <= 10  # winner keys bounded by n even with dup rows
    # each winning key admits ALL its twins, exactly once each
    assert len(out) == 3 * len(keys)
    assert sorted((r["k"], r["copy"]) for r in out) == sorted(
        (k, c) for k in keys for c in range(3)
    )
    out2 = weighted_hash_sample(df, "k", "w", 10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_dedup_index_intra_batch(spark, tmp_path):
    """Duplicates arriving in the SAME batch are caught too: only the
    min-id copy stays fresh; its exact twin and near twin match it."""
    from tern_ep_data_pipeline_spark.operators import dedup_index as di

    corpus = spark.createDataFrame(
        [(1, "indexed corpus document about spark shuffles and joins here")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    di.build_dedup_index(corpus, idx, num_hashes=16, bands=8)
    batch = spark.createDataFrame(
        [
            (30, "a brand new document body about winnowing fingerprints today"),
            (31, "a brand  new document body about winnowing fingerprints today"),  # exact dup of 30
            (32, "a brand new document body about winnowing fingerprints now"),  # near dup of 30 (last word)
            (33, "totally unrelated content with none of those other words present"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in di.match_against_index(
            spark, batch, idx, num_hashes=16, bands=8
        ).collect()
    }
    assert got[30] == ("fresh", None)
    assert got[31] == ("exact", 30)
    assert got[32] == ("near", 30)
    assert got[33] == ("fresh", None)


def test_dedup_index_match_precedence(spark, tmp_path):
    """Docs that qualify for several categories at once take the first of
    exact-index > exact-batch > near-index > near-batch, and the lowest
    candidate id inside it. Candidate ids are
    chosen so that a plain min over match_id would pick a different row.
    The optimized plan stays linear in the number of categories, and the
    one (rank, match_id) min is the only per-doc reduction of the hits."""
    import re

    from tern_ep_data_pipeline_spark.operators import dedup_index as di

    def words(tag, swap=()):
        return " ".join(
            f"{tag}x{i}" if i in swap else f"{tag}{i}" for i in range(60)
        )

    corpus = spark.createDataFrame(
        [
            (100, words("a")),
            (50, words("a", swap=(5,))),  # near 100, lower id
            (200, words("b")),
            (201, words("b", swap=(50,))),  # near 200
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, words("a")),  # exact 100, near 50
            (11, words("a")),  # exact 100, batch-exact 10
            (20, words("b", swap=(10,))),  # near 200 and 201
            (21, words("b", swap=(12,))),  # near 200 and 201, batch-near 20
            (30, words("c")),
            (31, words("c", swap=(30,))),  # batch-near 30
            (32, words("c")),  # batch-exact 30
            (40, words("d")),
        ],
        "doc_id long, text string",
    )
    want = {
        10: ("exact", 100),
        11: ("exact", 100),
        20: ("near", 200),
        21: ("near", 200),
        30: ("fresh", None),
        31: ("near", 30),
        32: ("exact", 30),
        40: ("fresh", None),
    }
    path = str(tmp_path / "idx")
    di.build_dedup_index(corpus, path)
    out = di.match_against_index(spark, batch, path)
    rows = out.collect()
    assert len(rows) == len(want)
    assert {r["doc_id"]: (r["status"], r["match_id"]) for r in rows} == want
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = len(re.findall(r"^[\s:+\-]*Join\b", plan, re.M))
    assert joins <= 9, joins
    aggregates = len(re.findall(r"^[\s:+\-]*Aggregate\b", plan, re.M))
    assert aggregates <= 6, aggregates


def test_dedup_index_one_decision_per_input_row(spark, tmp_path):
    """A doc_id repeated inside a batch gets one decision row per copy,
    with a hit or fresh alike. A sink batch (1, t), (2, u), (3, t)
    appends band rows for docs 1 and 2 only: the exact copy 3 is never
    fresh, so the canonical docs' band rows cover every append."""
    from tern_ep_data_pipeline_spark.operators import dedup_index as di
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    t = " ".join(f"od{i}" for i in range(30))
    u = "a wholly different body with none of those words"
    schema = "doc_id long, text string"
    idx = str(tmp_path / "idx")
    di.build_dedup_index(spark.createDataFrame([(100, t)], schema), idx)

    def decide(rows):
        out = di.match_against_index(
            spark, spark.createDataFrame(rows, schema), idx
        )
        return sorted(map(tuple, out.collect()))

    assert decide([(1, t), (1, t), (2, u)]) == [
        (1, 100, "exact"), (1, 100, "exact"), (2, None, "fresh"),
    ]
    assert decide([(5, u), (5, u), (6, t)]) == [
        (5, None, "fresh"), (5, None, "fresh"), (6, 100, "exact"),
    ]

    sink = str(tmp_path / "sink")
    match_dedup_batch(
        spark.createDataFrame([(1, t), (2, u), (3, t)], schema), sink
    ).collect()
    for leg in ("exact", "bands"):
        ids = scan(spark, sink, leg).select("doc_id")
        assert {r["doc_id"] for r in ids.collect()} == {1, 2}, leg


def test_repetition_stats(spark):
    from tern_ep_data_pipeline_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # all 2-grams identical, all 3-grams dup
            (2, "a b c d"),          # no repetition at all
            (3, "x y x y x y"),      # alternating: "x y"/"y x" repeat
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert out[1]["top2_gram_frac"] == 1.0 and out[1]["dup3_gram_frac"] == 1.0
    assert out[2]["top2_gram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["dup3_gram_frac"] == 0.0
    # "x y" occurs 3 of 5 bigrams; every bigram occurrence is a duplicate
    assert out[3]["top2_gram_frac"] == 0.6
    # 3-grams: x y x (x2), y x y (x2) -> all 4 occurrences duplicated
    assert out[3]["dup3_gram_frac"] == 1.0


def test_contamination_hits(spark):
    from tern_ep_data_pipeline_spark.operators.text import contamination_hits

    eval_df = spark.createDataFrame(
        [(100, "q w e r t y u i extra words here")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix q w e r t y u i suffix"),   # contains an eval 8-gram
            (2, "completely unrelated text with no overlap at all"),
            (3, "q w e r t y u i"),                  # exactly one eval 8-gram
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in contamination_hits(train, eval_df, "doc_id", "text", n=8).collect()
    }
    assert set(out) == {1, 3}
    assert out[3]["n_contaminated_grams"] == 1 and out[3]["n_eval_docs"] == 1
    assert out[1]["n_contaminated_grams"] >= 1 and out[1]["n_eval_docs"] == 1


def test_repetition_and_contamination_fast_equals_portable(spark, sf_dir):
    from tern_ep_data_pipeline_spark.operators.text import (
        contamination_hits,
        repetition_stats,
    )
    from pyspark.sql import functions as F

    # include the whitespace shapes where Python str.split() and the JVM
    # split(trim(col), '\s+') disagree: the fast (Arrow) mode must share the
    # portable mode's gram equality classes on exactly these
    weird = spark.createDataFrame(
        [
            (90001, "\tq w e r t y u i lead tab"),
            (90002, "q w e r t y u i trail newline\n"),
            (90003, "nb\xa0sp q w e r t y u i and　ideographic"),
            (90004, " \t\nq w e r t y u i mixed \r\f"),
        ],
        ["doc_id", "text"],
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(200)
        .select("doc_id", "text")
        .unionByName(weird)
    )
    fast = repetition_stats(docs, "doc_id", "text").collect()
    portable = repetition_stats(docs, "doc_id", "text", hash_mode="portable").collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, portable))

    train = docs.where(F.col("doc_id") % 7 != 0)
    ev = docs.where(F.col("doc_id") % 7 == 0)
    f2 = contamination_hits(train, ev, "doc_id", "text", n=4).collect()
    p2 = contamination_hits(train, ev, "doc_id", "text", n=4, hash_mode="portable").collect()
    assert sorted(map(tuple, f2)) == sorted(map(tuple, p2))
    assert len(f2) > 0


def test_temperature_sample_flattens_mix(spark):
    from tern_ep_data_pipeline_spark.operators import sampling

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sampling.temperature_sample(
        df, "doc_id", "source", alpha=0.0, total=200
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # alpha=0 equalises target counts (~100 each); the small stratum caps at
    # its full size, the big one samples ~100 of 900
    assert by_src["small"] == 100
    assert 60 <= by_src["big"] <= 140
    # deterministic: same salt -> same rows
    again = sampling.temperature_sample(df, "doc_id", "source", alpha=0.0, total=200)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # alpha=1 preserves the natural mix (~180 big / ~20 small)
    nat = sampling.temperature_sample(df, "doc_id", "source", alpha=1.0, total=200)
    nb = {
        r["source"]: r["n"]
        for r in nat.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert nb.get("big", 0) > 4 * nb.get("small", 1)


def test_pack_sequences_layout(spark):
    from tern_ep_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "a", 600), (2, "a", 600), (3, "a", 300), (4, "b", 100)],
        ["doc_id", "shard", "n_tok"],
    )
    out = {
        r["doc_id"]: r
        for r in sampling.pack_sequences(
            df, "doc_id", "n_tok", seq_len=1000, group_cols=("shard",)
        ).collect()
    }
    # doc1 starts at 0 -> seq 0; doc2 starts at 600 -> seq 0 offset 600;
    # doc3 starts at 1200 -> seq 1 offset 200; shard b restarts at 0
    assert (out[1]["seq_index"], out[1]["seq_offset"]) == (0, 0)
    assert (out[2]["seq_index"], out[2]["seq_offset"]) == (0, 600)
    assert (out[3]["seq_index"], out[3]["seq_offset"]) == (1, 200)
    assert (out[4]["seq_index"], out[4]["seq_offset"]) == (0, 0)


def test_curate_corpus_extended_stages(spark):
    """Chunk-dup gate, decontamination, model gate, and temperature mixing
    compose into the plan without disturbing the dedup core."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators import quality_model as qm
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    c1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"{c1} {uniq}", "a"),                      # owns both chunks
        (2, f"{c1} {c1}", "a"),  # both chunks duplicate doc 1's first chunk
        (3, "completely fresh words with no shared chunk content here now", "b"),
        (4, "evaluation sentinel text that must never reach training data x", "b"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    eval_df = spark.createDataFrame(
        [(100, "evaluation sentinel text that must never reach training data x")],
        ["doc_id", "text"],
    )
    out = curate_corpus(
        docs,
        min_chars=5,
        minhash_threshold=0.95,
        num_hashes=16,
        bands=4,
        max_dup_chunk_frac=0.6,
        eval_df=eval_df,
        decon_ngram=8,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    dedup.release_staged(spark)
    assert 1 in kept and 3 in kept
    assert 2 not in kept  # chunk-dup gate
    assert 4 not in kept  # decontamination

    # model gate: a classifier trained to reject digit-heavy docs drops them
    good = [(10 + i, "clean prose words " * 5 + str(i), 1.0) for i in range(10)]
    bad = [(50 + i, "111 222 333 444 $$$ " * 5 + str(i), 0.0) for i in range(10)]
    labelled = spark.createDataFrame(good + bad, ["doc_id", "text", "label"])
    model = qm.train_quality_classifier(labelled, "doc_id", "text")
    gated = curate_corpus(
        labelled.drop("label"),
        min_chars=5,
        minhash_threshold=0.99,
        num_hashes=16,
        bands=4,
        quality_model=model,
    )
    gkept = {r["doc_id"] for r in gated.select("doc_id").collect()}
    dedup.release_staged(spark)
    assert gkept and all(i < 50 for i in gkept)

    # temperature mixing path smoke: flattened cuts keep both sources
    mixed = curate_corpus(
        docs.unionByName(
            spark.createDataFrame(
                [(200 + i, f"filler text row {i} unique words", "a") for i in range(20)],
                ["doc_id", "text", "source"],
            )
        ),
        min_chars=5,
        minhash_threshold=0.99,
        num_hashes=16,
        bands=4,
        domain_col="source",
        domain_alpha=0.0,
        domain_total=10,
    )
    srcs = {r["source"] for r in mixed.select("source").collect()}
    dedup.release_staged(spark)
    assert "a" in srcs


def test_unigram_logprob(spark):
    from tern_ep_data_pipeline_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common rare"),
            (3, "common common common rare"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    # a doc of only the most frequent token scores highest; mixing in the
    # rare token drags the mean down
    assert out[1]["avg_logprob"] > out[3]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[1]["n_scored_tokens"] == 4
    # hand check: c(common)=8, c(rare)=2, T=10, V=2, a=0.5
    import math

    lp_common = math.log((8 + 0.5) / (10 + 0.5 * 3))
    assert out[1]["avg_logprob"] == round(lp_common, 6)

    # scoring against a reference model penalises OOV tokens
    ref = spark.createDataFrame([(9, "common common")], ["doc_id", "text"])
    scored = {
        r["doc_id"]: r["avg_logprob"]
        for r in unigram_logprob(df, "doc_id", "text", model_df=ref).collect()
    }
    assert scored[1] > scored[2]  # "rare" is OOV under the reference


def test_chunk_index_incremental(spark, tmp_path):
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_chunk_index,
        build_chunk_index,
        chunk_stats_against_index,
    )

    c1 = "a b c d e f g h i j"
    c2 = "k l m n o p q r s t"
    c3 = "u v w x y z aa bb cc dd"
    corpus = spark.createDataFrame(
        [(1, f"{c1} {c2}")], ["doc_id", "text"]
    )
    path = str(tmp_path / "cidx")
    n = build_chunk_index(corpus, path)
    assert n == 2

    batch = spark.createDataFrame(
        [
            (10, f"{c1} {c3}"),      # half indexed, half fresh
            (11, f"{c3} {c3}"),      # first chunk owned by doc 10? no - c3 owner is min occ in batch
            (12, "entirely novel words that no chunk index has seen yet zz"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in chunk_stats_against_index(spark, batch, path, "doc_id", "text").collect()
    }
    dedup.release_staged(spark)
    assert out[10]["n_dup_chunks"] == 1 and out[10]["kept_tokens"] == 10
    # doc 11: both chunks are c3; doc 10 (lower occ key) owns c3 in-batch,
    # so both of doc 11's occurrences are duplicates
    assert out[11]["n_dup_chunks"] == 2 and out[11]["kept_tokens"] == 0
    assert out[12]["n_dup_chunks"] == 0 and out[12]["dup_chunk_frac"] == 0.0

    # append doc 12's chunks; a re-arrival is then fully duplicated
    append_to_chunk_index(
        spark.createDataFrame(
            [(12, "entirely novel words that no chunk index has seen yet zz")],
            ["doc_id", "text"],
        ),
        path,
    )
    again = {
        r["doc_id"]: r
        for r in chunk_stats_against_index(
            spark,
            spark.createDataFrame(
                [(20, "entirely novel words that no chunk index has seen yet zz")],
                ["doc_id", "text"],
            ),
            path,
        ).collect()
    }
    dedup.release_staged(spark)
    assert again[20]["dup_chunk_frac"] == 1.0


def test_chunk_index_duplicate_appends_not_inflated(spark, tmp_path):
    """The index accumulates the same chunk_hash across parquet appends;
    stats joins must distinct it first or every matching occurrence row
    multiplies and dup_chunk_frac (the gate value) inflates."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_chunk_index,
        build_chunk_index,
        chunk_stats_against_index,
    )

    c1 = "a b c d e f g h i j"
    doc = spark.createDataFrame([(1, c1)], ["doc_id", "text"])
    path = str(tmp_path / "cidx")
    build_chunk_index(doc, path)
    # the same chunk lands in the index three times (routine: accepted docs
    # below the gate still carry already-indexed chunks)
    append_to_chunk_index(spark.createDataFrame([(2, c1)], ["doc_id", "text"]), path)
    append_to_chunk_index(spark.createDataFrame([(3, c1)], ["doc_id", "text"]), path)

    fresh = "totally new words never indexed anywhere at all right now"
    out = {
        r["doc_id"]: r
        for r in chunk_stats_against_index(
            spark,
            spark.createDataFrame([(10, f"{c1} {fresh}")], ["doc_id", "text"]),
            path,
        ).collect()
    }
    dedup.release_staged(spark)
    # 2 chunks, 1 indexed: a non-distinct join would report n_chunks=4
    # (the indexed occurrence tripled) and dup_chunk_frac=0.75
    assert out[10]["n_chunks"] == 2
    assert out[10]["n_dup_chunks"] == 1
    assert out[10]["dup_chunk_frac"] == 0.5
    assert out[10]["kept_tokens"] == 10


def test_chunk_stats_string_ids(spark, tmp_path):
    """String/UUID doc ids: the occurrence ordering must not go through a
    long cast (NULL for strings -> every stat NULL -> the gate drops
    nothing). struct(id, pos) ordering keeps it well-defined."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_chunk_index,
        chunk_stats_against_index,
    )

    c1 = "a b c d e f g h i j"
    c2 = "k l m n o p q r s t"
    df = spark.createDataFrame(
        [("doc-aaa", f"{c1} {c2}"), ("doc-bbb", f"{c2} {c2}")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup_stats(df, "doc_id", "text").collect()
    }
    dedup.release_staged(spark)
    # doc-aaa (lexicographically first) owns both chunks; doc-bbb's two
    # c2 occurrences both duplicate it
    assert out["doc-aaa"]["n_dup_chunks"] == 0
    assert out["doc-aaa"]["kept_tokens"] == 20
    assert out["doc-bbb"]["n_dup_chunks"] == 2
    assert out["doc-bbb"]["dup_chunk_frac"] == 1.0

    path = str(tmp_path / "cidx_str")
    build_chunk_index(
        spark.createDataFrame([("seed-1", c1)], ["doc_id", "text"]), path
    )
    inc = {
        r["doc_id"]: r
        for r in chunk_stats_against_index(
            spark,
            spark.createDataFrame([("new-1", f"{c1} {c2}")], ["doc_id", "text"]),
            path,
        ).collect()
    }
    dedup.release_staged(spark)
    assert inc["new-1"]["n_dup_chunks"] == 1
    assert inc["new-1"]["kept_tokens"] == 10


def test_pack_sequences_ungrouped_warns(spark):
    """The ungrouped default funnels the corpus through one task; it must
    warn so the scale-unsafe path can't be taken silently."""
    import warnings

    from tern_ep_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 600), (2, 600), (3, 300)], ["doc_id", "n_tok"]
    )
    with pytest.warns(UserWarning, match="single-task global window"):
        out = {
            r["doc_id"]: r
            for r in sampling.pack_sequences(
                df, "doc_id", "n_tok", seq_len=1000
            ).collect()
        }
    assert (out[3]["seq_index"], out[3]["seq_offset"]) == (1, 200)

    # the grouped (scale-safe) path stays silent
    gdf = spark.createDataFrame([(1, "a", 600)], ["doc_id", "shard", "n_tok"])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sampling.pack_sequences(
            gdf, "doc_id", "n_tok", seq_len=1000, group_cols=("shard",)
        ).collect()


def test_semantic_dedup_rejects_stricter_pairs(spark):
    from tern_ep_data_pipeline_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.01], 0)],
        ["vec_id", "embedding", "label"],
    )
    pairs = similarity.embedding_near_dup_pairs(
        df, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=0.99,
    )
    with pytest.raises(ValueError, match="stricter"):
        similarity.semantic_dedup(
            df, threshold=0.95, pairs=pairs, pairs_threshold=0.99
        )
    # looser-or-equal pairs pass through
    out = similarity.semantic_dedup(
        df, threshold=0.99, pairs=pairs, pairs_threshold=0.99
    ).collect()
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    release_staged(spark)
    assert len(out) == 2


def test_curate_corpus_containment_gate(spark):
    """A short document embedded verbatim in a much longer one: MinHash
    resemblance dilutes away (shared shingles are a small fraction of the
    long doc's set) so near-dup dedup keeps both; the containment gate
    drops the embedded copy."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    rng_words = [f"w{i:03d}" for i in range(240)]
    big = " ".join(rng_words)
    embedded = " ".join(rng_words[60:90])  # 30-word verbatim excerpt
    other = " ".join(f"z{i:03d}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, big), (2, embedded), (3, other)], ["doc_id", "text"]
    )

    base_kept = {
        r["doc_id"] for r in curate_corpus(docs, min_chars=5).collect()
    }
    dedup.release_staged(spark)
    assert base_kept == {1, 2, 3}  # MinHash alone keeps the embedded doc

    kept = {
        r["doc_id"]
        for r in curate_corpus(
            docs, min_chars=5, containment_threshold=0.8
        ).collect()
    }
    dedup.release_staged(spark)
    assert kept == {1, 3}  # embedded copy gone, host + unrelated survive


def test_line_dedup_frame(spark):
    """CCNet line dedup: a trimmed line in >= min_docs DISTINCT documents
    is removed from every document (including its first occurrence); short
    lines are exempt; within-doc repeats alone don't trigger removal."""
    from tern_ep_data_pipeline_spark.operators.dedup import line_dedup_frame

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\n\nfooter text"),
            (2, "COOKIE BANNER\nreal content two\nfooter text"),
            (3, "unique document\nno boilerplate here"),
            (4, "solo repeat\nsolo repeat\nbody"),  # repeats only within
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in line_dedup_frame(docs, "doc_id", "text").collect()
    }
    assert out[1]["clean_text"] == "real content one\n"  # blank line kept
    assert out[1]["n_removed_lines"] == 2
    assert out[1]["removed_chars"] == len("COOKIE BANNER") + len("footer text")
    assert out[2]["clean_text"] == "real content two"
    assert out[3]["n_removed_lines"] == 0
    # within-doc repetition is not corpus boilerplate (1 distinct doc)
    assert out[4]["clean_text"] == "solo repeat\nsolo repeat\nbody"
    assert out[5]["clean_text"] == "" and out[5]["n_lines"] == 1

    # min_line_chars exempts short lines from removal
    short = spark.createDataFrame(
        [(1, "ok\nlong shared line"), (2, "ok\nlong shared line")],
        ["doc_id", "text"],
    )
    out2 = {
        r["doc_id"]: r
        for r in line_dedup_frame(
            short, "doc_id", "text", min_line_chars=5
        ).collect()
    }
    assert out2[1]["clean_text"] == "ok"  # 'ok' exempt, shared line removed


def test_curate_corpus_line_dedup_stage(spark):
    """Boilerplate makes two documents NEAR dupes but not exact dupes;
    with the line-dedup stage on, the boilerplate is stripped first, the
    residual bodies become exact duplicates, and exact dedup collapses
    them — the CCNet ordering argument in one test."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    body = "the actual shared article body text here"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\n{body}"),
            (2, f"{body}\n{banner}"),
            (3, f"{banner}\na different article body entirely"),
            (4, "a document with no boilerplate at all"),
        ],
        ["doc_id", "text"],
    )
    base = {r["doc_id"] for r in curate_corpus(docs, min_chars=5).collect()}
    dedup.release_staged(spark)
    assert base == {1, 2, 3, 4}  # distinct texts with boilerplate attached

    # banner is in 3 docs (removed at min_docs=3); the shared body is in
    # only 2 (kept) — after the strip, docs 1 and 2 are exact duplicates
    kept = curate_corpus(
        docs, min_chars=5, line_dedup_min_docs=3
    ).collect()
    dedup.release_staged(spark)
    assert {r["doc_id"] for r in kept} == {1, 3, 4}  # bodies collapsed
    assert all(banner not in r["text"] for r in kept)


def test_curate_corpus_substring_stage(spark):
    """Stage 0b cuts a pasted span before near-dup detection: two docs
    sharing a long pasted paragraph at different offsets stop being near
    dups once the second occurrence is removed, and a NULL-text doc rides
    through untouched (LEFT-join contract)."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    pasted = " ".join(f"p{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, f"{pasted} own body one two three"),
            (2, f"other body four five six {pasted}"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    kw = dict(minhash_threshold=0.3, num_hashes=16, bands=8, min_chars=10)
    plain = {r["doc_id"] for r in curate_corpus(docs, **kw).collect()}
    dedup.release_staged(spark)
    with_ss = {
        r["doc_id"]: r["text"]
        for r in curate_corpus(docs, substring_min_tokens=8, **kw).collect()
    }
    dedup.release_staged(spark)
    # the pasted span made 1 and 2 near dups -> one dropped without 0b
    assert plain == {1}
    # with 0b both survive: doc 2's copy of the span is cut first
    assert set(with_ss) == {1, 2}
    assert pasted in with_ss[1] and pasted not in with_ss[2]
    # untouched documents keep their text BYTE-identical — the operator's
    # token rebuild must only replace docs that actually lost a span
    assert with_ss[1] == f"{pasted} own body one two three"
    # null doc's fate matches the stage-off path either way
    assert (3 in plain) == (3 in with_ss)


def test_curate_corpus_line_dedup_keeps_null_text(spark):
    """A NULL-text document produces zero lines (split(NULL) explodes to
    nothing), so it is absent from the line-dedup frame — the join back
    must be a LEFT join or stage 0 silently drops it where the
    line-dedup-off path would not. In audit mode every input id must
    still be attributed to exactly one stage."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\n" + " ".join(f"w{i}" for i in range(20))),
            (2, f"{banner}\n" + " ".join(f"x{i}" for i in range(20))),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    kw = dict(min_chars=5, line_dedup_min_docs=2)

    off = {r["doc_id"] for r in curate_corpus(docs, min_chars=5).collect()}
    dedup.release_staged(spark)
    on = {r["doc_id"] for r in curate_corpus(docs, **kw).collect()}
    dedup.release_staged(spark)
    # the null doc's fate must not depend on whether line dedup ran
    assert (3 in on) == (3 in off)

    audit = {
        r["doc_id"]: r["stage"]
        for r in curate_corpus(docs, audit=True, **kw).collect()
    }
    dedup.release_staged(spark)
    assert set(audit) == {1, 2, 3}  # exact partition, null doc included
    assert audit[1] == "kept" and audit[2] == "kept"


def test_materialise_sequences(spark):
    from tern_ep_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "aa bb", "a", 600), (2, "cc", "a", 600), (3, "dd ee ff", "a", 300), (4, "zz", "b", 100)],
        ["doc_id", "text", "shard", "n_tok"],
    )
    out = {
        (r["shard"], r["seq_index"]): r
        for r in sampling.materialise_sequences(
            df, "doc_id", "text", "n_tok", seq_len=1000, group_cols=("shard",)
        ).collect()
    }
    # docs 1,2 start in seq 0 (starts 0 and 600); doc 3 starts at 1200 -> seq 1
    assert out[("a", 0)]["seq_text"] == "aa bb cc"
    assert out[("a", 0)]["seq_weight"] == 1200 and out[("a", 0)]["n_docs"] == 2
    assert out[("a", 1)]["seq_text"] == "dd ee ff"
    assert out[("b", 0)]["seq_text"] == "zz"


def test_leak_free_split(spark):
    from tern_ep_data_pipeline_spark.operators import sampling
    from tern_ep_data_pipeline_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    clusters = dedup_clusters(pairs)
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 50, 51)], ["doc_id"]
    )
    out = {
        r["doc_id"]: r["split"]
        for r in sampling.leak_free_split(docs, "doc_id", clusters).collect()
    }
    assert len(out) == 7
    # every member of a cluster gets the same split
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11]
    assert set(out.values()) <= {"train", "val", "test"}
    # deterministic
    again = {
        r["doc_id"]: r["split"]
        for r in sampling.leak_free_split(docs, "doc_id", clusters).collect()
    }
    assert out == again
    # approximate proportions on a larger singleton-only corpus
    big = spark.range(5000).withColumnRenamed("id", "doc_id")
    empty = dedup_clusters(spark.createDataFrame([], "id_a long, id_b long"))
    dist = {
        r["split"]: r["n"]
        for r in sampling.leak_free_split(big, "doc_id", empty)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(dist["train"] / 5000 - 0.9) < 0.03
    assert abs(dist["val"] / 5000 - 0.05) < 0.02
    assert abs(dist["test"] / 5000 - 0.05) < 0.02


def test_incremental_line_index(spark, tmp_path):
    """Line boilerplate accumulates across ingest batches: a line seen once
    in the indexed corpus and once in a new batch crosses min_docs=2 and is
    stripped incrementally, where the batch alone would keep it. Empty
    index == the batch operator exactly."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_line_index,
        build_line_index,
        clean_against_line_index,
    )

    path = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(1, "COOKIE BANNER\nfirst article body")], ["doc_id", "text"]
    )
    assert build_line_index(corpus, path) == 2

    batch = spark.createDataFrame(
        [
            (10, "COOKIE BANNER\nsecond article body"),
            (11, "a fresh unrelated document"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in clean_against_line_index(spark, batch, path).collect()
    }
    # the banner is 1 (index) + 1 (batch) = 2 distinct docs -> stripped
    assert out[10]["clean_text"] == "second article body"
    assert out[10]["n_removed_lines"] == 1
    assert out[11]["n_removed_lines"] == 0
    # batch alone would NOT strip it (one distinct doc in the batch)
    alone = {
        r["doc_id"]: r
        for r in dedup.line_dedup_frame(batch, "doc_id", "text").collect()
    }
    assert alone[10]["n_removed_lines"] == 0

    # empty index reproduces the batch operator exactly
    empty = str(tmp_path / "empty_idx")
    build_line_index(
        spark.createDataFrame([], "doc_id long, text string"), empty
    )
    via_index = {
        r["doc_id"]: (r["clean_text"], r["n_removed_lines"])
        for r in clean_against_line_index(spark, batch, empty).collect()
    }
    plain = {
        r["doc_id"]: (r["clean_text"], r["n_removed_lines"])
        for r in dedup.line_dedup_frame(batch, "doc_id", "text").collect()
    }
    assert via_index == plain

    # appends accumulate: two more batches each add one doc with the
    # fresh line, crossing min_docs=3 only after both are appended
    append_to_line_index(batch, path)
    b3 = spark.createDataFrame(
        [(20, "a fresh unrelated document\nnew body")], ["doc_id", "text"]
    )
    got = clean_against_line_index(spark, b3, path, min_docs=3).first()
    assert got["n_removed_lines"] == 0  # 1 (idx) + 1 (batch) = 2 < 3
    append_to_line_index(b3, path)
    b4 = spark.createDataFrame(
        [(30, "a fresh unrelated document\nanother body")], ["doc_id", "text"]
    )
    got = clean_against_line_index(spark, b4, path, min_docs=3).first()
    assert got["n_removed_lines"] == 1  # 2 (idx, summed) + 1 = 3
    assert got["clean_text"] == "another body"


def test_wide_line_index_boilerplate_report(spark, tmp_path, monkeypatch):
    """The boilerplate report over the one (line_hash, n_docs) line
    index. Pins: (a) the report names the boilerplate as TEXT taken from
    the batch, with combined corpus+batch counts, hottest first; (b) an
    append and a compaction keep the summed counts; (c) with the Bloom
    strategy forced past the prune gate the report is identical to the
    un-pruned one."""
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_line_index,
        boilerplate_lines_report,
        build_line_index,
        compact_line_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nfirst article body"),
            (2, "COOKIE BANNER\nsecond article body\nALL RIGHTS RESERVED"),
            (3, "ALL RIGHTS RESERVED\nthird body"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "lines_idx")
    assert build_line_index(corpus, path) == 5
    assert scan(spark, path, "lines").columns == ["line_hash", "n_docs"]

    batch = spark.createDataFrame(
        [
            (10, "COOKIE BANNER\nnovel batch body"),
            (11, "ALL RIGHTS RESERVED\nanother novel body"),
            (12, "totally fresh text"),
        ],
        ["doc_id", "text"],
    )
    # (a) the report: banner 2+1=3 docs, rights 2+1=3, bodies below cut
    rep = boilerplate_lines_report(spark, batch, path, min_docs=3).collect()
    assert [(r["line"], r["n_docs_total"], r["n_docs_batch"]) for r in rep] \
        == [("ALL RIGHTS RESERVED", 3, 1), ("COOKIE BANNER", 3, 1)]

    # (b) append + compact: the counts sum
    append_to_line_index(batch, path)
    stats = compact_line_index(spark, path)
    assert stats["rows_after"] < stats["rows_before"]
    rep2 = boilerplate_lines_report(
        spark,
        spark.createDataFrame([(20, "COOKIE BANNER\nlast body")],
                              ["doc_id", "text"]),
        path, min_docs=4,
    ).collect()
    assert [(r["line"], r["n_docs_total"]) for r in rep2] == [
        ("COOKIE BANNER", 4)
    ]

    # (c) past the gate (threshold -1), with the Bloom strategy forced
    # at the prune_index_by_keys seam, the report is identical to the
    # un-pruned one
    from tern_ep_data_pipeline_spark.operators import bloom

    calls = []
    orig = bloom.prune_index_by_keys

    def forced(*a, **kw):
        calls.append(1)
        return orig(*a, **{**kw, "strategy": "bloom"})

    monkeypatch.setattr(bloom, "prune_index_by_keys", forced)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rep_bloom = boilerplate_lines_report(
            spark, batch, path, min_docs=3
        ).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert calls, "the Bloom prune was not exercised"
    rep_plain = boilerplate_lines_report(
        spark, batch, path, min_docs=3
    ).collect()
    assert rep_bloom == rep_plain


def test_ccnet_normalised_line_dedup(spark):
    """normalise=True hashes lines under ccnet_normalise (lowercase,
    digits->0 per char, whitespace collapse), so counter/date boilerplate
    that differs only in digit values still collapses (CCNet-faithful:
    digit-run WIDTH is preserved, "88" != "912") — while the RAW lines are
    what get removed from each doc."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "Page 3 of 912\nreal body one"),
            (2, "page 7 of 885\nreal body two"),
            (3, "no counter here\njust content"),
        ],
        ["doc_id", "text"],
    )
    plain = {
        r["doc_id"]: r["n_removed_lines"]
        for r in dedup.line_dedup_frame(docs, "doc_id", "text").collect()
    }
    assert plain == {1: 0, 2: 0, 3: 0}  # raw lines all distinct

    norm = {
        r["doc_id"]: r
        for r in dedup.line_dedup_frame(
            docs, "doc_id", "text", normalise=True
        ).collect()
    }
    assert norm[1]["n_removed_lines"] == 1
    assert norm[1]["clean_text"] == "real body one"
    assert norm[2]["clean_text"] == "real body two"
    assert norm[3]["n_removed_lines"] == 0

    # the normaliser itself: digits->0, case, whitespace; punct optional
    row = spark.range(1).select(
        dedup.ccnet_normalise(F.lit("  Call 555-123!  NOW  ")).alias("a"),
        dedup.ccnet_normalise(
            F.lit("  Call 555-123!  NOW  "), strip_punct=True
        ).alias("b"),
    ).first()
    assert row["a"] == "call 000-000! now"
    assert row["b"] == "call 000000 now"


def test_curate_corpus_all_stages_compose(spark, sf_dir):
    """Every optional stage enabled at once — line dedup, containment
    gate, chunk gate, decontamination, temperature mixing — composes into
    one plan that runs, shrinks monotonically, and stays reproducible."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = docs.where("doc_id % 97 = 0")
    train = docs.where("doc_id % 97 != 0")

    def run():
        out = curate_corpus(
            train,
            minhash_threshold=0.2,
            num_hashes=16,
            bands=4,
            min_chars=10,
            line_dedup_min_docs=2,
            line_delimiter=" a ",  # generator docs are single-line
            containment_threshold=0.9,
            max_dup_chunk_frac=0.9,
            eval_df=eval_df,
            domain_col="source",
            domain_alpha=0.5,
            domain_total=300,
        )
        rows = {r["doc_id"] for r in out.select("doc_id").collect()}
        dedup.release_staged(spark)
        return rows

    first = run()
    assert 0 < len(first) <= 320  # mixing caps near domain_total
    assert first == run()  # fully deterministic end to end


def test_curate_corpus_audit_partitions_input(spark):
    """audit=True attributes every input document to exactly one stage,
    and the 'kept' set equals the normal run's survivors — computed from
    the same intermediates, so it cannot drift."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.plans.curation import curate_corpus

    body = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, body),                       # canonical of exact pair
            (2, body),                       # exact dup of 1
            (3, body + " tail"),             # near dup of 1
            (4, "short"),                    # fails quality_chars
            (5, " ".join(f"z{i}" for i in range(25))),  # clean survivor
        ],
        ["doc_id", "text"],
    )
    kw = dict(minhash_threshold=0.3, num_hashes=16, bands=8, min_chars=10)
    kept_ids = {
        r["doc_id"] for r in curate_corpus(docs, **kw).select("doc_id").collect()
    }
    dedup.release_staged(spark)
    audit = {
        r["doc_id"]: r["stage"]
        for r in curate_corpus(docs, audit=True, **kw).collect()
    }
    dedup.release_staged(spark)

    assert set(audit) == {1, 2, 3, 4, 5}  # exact partition of the input
    assert audit[2] == "exact_dup"
    assert audit[3] == "near_dup"
    assert audit[4] == "quality_chars"
    assert {d for d, s in audit.items() if s == "kept"} == kept_ids == {1, 5}


def test_incremental_gram_index(spark, tmp_path):
    """ExactSubstr spans accumulate across ingest batches: a span whose
    first occurrence lives in the indexed corpus is cut from a new batch
    document on arrival (the batch alone would keep the batch-first copy);
    empty index == the batch operator exactly; appends converge via min."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        clean_against_gram_index,
    )

    phrase = " ".join(f"s{i}" for i in range(10))
    path = str(tmp_path / "gidx")
    corpus = spark.createDataFrame(
        [(1, f"intro words {phrase} outro words")], ["doc_id", "text"]
    )
    assert build_gram_index(corpus, path) > 0

    batch = spark.createDataFrame(
        [
            (10, f"new document body {phrase} trailing content here now"),
            (11, "a fresh unrelated document with its own words only"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in clean_against_gram_index(spark, batch, path).collect()
    }
    dedup.release_staged(spark)
    assert out[10]["n_removed_tokens"] == 10
    assert phrase not in out[10]["clean_text"]
    assert out[11]["n_removed_tokens"] == 0
    # batch alone keeps doc 10's copy (it IS the batch first)
    alone = {
        r["doc_id"]: r
        for r in dedup.substring_dedup(batch, "doc_id", "text").collect()
    }
    dedup.release_staged(spark)
    assert alone[10]["n_removed_tokens"] == 0

    # empty index reproduces the batch operator exactly
    empty = str(tmp_path / "empty_gidx")
    build_gram_index(
        spark.createDataFrame([], "doc_id long, text string"), empty
    )
    via_index = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"], r["n_dup_spans"])
        for r in clean_against_gram_index(spark, batch, empty).collect()
    }
    dedup.release_staged(spark)
    plain = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"], r["n_dup_spans"])
        for r in dedup.substring_dedup(batch, "doc_id", "text").collect()
    }
    dedup.release_staged(spark)
    assert via_index == plain

    # appends converge via min: after appending the batch, a later doc
    # repeating doc 11's (previously unique) text loses its copy
    append_to_gram_index(batch, path)
    b3 = spark.createDataFrame(
        [(30, "a fresh unrelated document with its own words only")],
        ["doc_id", "text"],
    )
    got = clean_against_gram_index(spark, b3, path).first()
    dedup.release_staged(spark)
    assert got["n_removed_tokens"] == got["n_tokens"]


# --------------------------------------------- round-7 ADVICE regressions

def test_memguard_threshold_between_calibration_points():
    """TIGHT_UNIFIED_BYTES must sit strictly BETWEEN the SPILL_r05 grid's
    failing (2 GiB heap ~> 1.0 GiB unified) and passing (3 GiB heap ~>
    1.66 GiB unified) cells — r6's 2 GiB value silently derated the
    measured-passing config (ADVICE r6 #1)."""
    from tern_ep_data_pipeline_spark.operators.memguard import (
        _JVM_RESERVED,
        TIGHT_UNIFIED_BYTES,
    )

    failing_unified = ((2 << 30) - _JVM_RESERVED) * 0.6
    passing_unified = ((3 << 30) - _JVM_RESERVED) * 0.6
    assert failing_unified < TIGHT_UNIFIED_BYTES < passing_unified


def test_cc_tight_mode_cleans_checkpoint_files(spark, monkeypatch):
    """Tight-mode CC must not leak reliable-checkpoint files for the life
    of the session (ADVICE r6 #2): after the result is returned, the
    module-owned checkpoint dir is empty, and the returned frame is still
    fully usable (re-materialised off the checkpoint files)."""
    import os

    from tern_ep_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_tight_memory", lambda spark: True)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    out = connected_components(edges, driver_threshold=0)
    local = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    d = next(
        o for o in graph._OWNED_CKPT_DIRS
        if local == o or local.startswith(o + os.sep)
    )
    leftover = [
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
    ]
    assert leftover == [], f"checkpoint files leaked: {leftover[:5]}"
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # the driver union-find path cleans too
    out2 = connected_components(edges, driver_threshold=10_000)
    assert out2.count() == 5
    leftover2 = [f for _, _, fs in os.walk(d) for f in fs]
    assert leftover2 == []


def test_curation_memory_guard_warns_when_derated(spark, monkeypatch):
    """Below the un-derated floor with tight-memory derating active the
    guard WARNS instead of rejecting a run the derate was built to carry
    (ADVICE r6 #4); without derating it still raises."""
    import warnings as _w

    import tern_ep_data_pipeline_spark.plans.curation as cur
    from tern_ep_data_pipeline_spark.operators import dedup, memguard
    from tern_ep_data_pipeline_spark.plans.curation import (
        CurationMemoryError,
        curate_corpus,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))], ["doc_id", "text"]
    )
    monkeypatch.setattr(
        cur, "_check_memory_floor", lambda df: "sizing invariant violated (test)"
    )
    monkeypatch.setattr(memguard, "tight_memory", lambda spark: True)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        n = curate_corpus(docs, min_chars=5).count()
        dedup.release_staged(spark)
    assert n == 1
    assert any("derating" in str(w.message) for w in caught)

    monkeypatch.setattr(memguard, "tight_memory", lambda spark: False)
    with pytest.raises(CurationMemoryError):
        curate_corpus(docs, min_chars=5)


def test_staged_persist_derates_at_plan_time(spark, sf_dir, monkeypatch):
    """VERDICT r11 #3: _stage sizes the persist level BEFORE caching —
    under a tight pool everything derates; once the CUMULATIVE staged
    byte estimate crosses the staged-storage budget, later persists
    derate to DISK_ONLY (the sf10/8g spill regime classified at plan
    time instead of discovered by the runtime spill counters); the
    decision trail is recorded for artifacts. A frame with no usable
    Catalyst estimate (local relation: Long.MaxValue) stays in memory
    — underestimating is the safe direction."""
    from pyspark import StorageLevel

    from tern_ep_data_pipeline_spark.operators import dedup, memguard
    from tern_ep_data_pipeline_spark.sources.tables import load_table

    # parquet-backed, as every production staged frame is: the scan's
    # sizeInBytes is exact and propagates through projections
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dedup.release_staged(spark)

    # unknown estimate (parallelized local relation -> Long.MaxValue):
    # stays in memory, classified as undecidable
    local = spark.createDataFrame([(1, "w")], ["doc_id", "text"])
    level, reason, est = memguard.staged_persist_decision(spark, local, 0)
    assert level == "memory" and "no usable" in reason and est == 0

    # pure decision function: a huge prior working set forces disk
    level, reason, _est = memguard.staged_persist_decision(
        spark, docs, staged_bytes_so_far=1 << 60
    )
    assert level == "disk" and "staged working set" in reason

    # ample budget (the 128 GiB test box): memory, with an estimate
    level, reason, est = memguard.staged_persist_decision(spark, docs, 0)
    assert level == "memory" and est > 0

    # integration: squeeze the budget so the FIRST _stage already
    # exceeds it -> DISK_ONLY persist, logged with the budget reason
    monkeypatch.setattr(memguard, "STAGE_STORAGE_FRACTION", 1e-12)
    staged = dedup._stage(docs.select("doc_id", "text"))
    assert staged.storageLevel == StorageLevel.DISK_ONLY
    decisions = dedup.stage_decisions(spark)
    assert decisions and decisions[-1]["level"] == "disk"
    assert "staged working set" in decisions[-1]["reason"]
    dedup.release_staged(spark)

    # restored budget: memory-level persist again, and release_staged
    # reset the cumulative estimate (a fresh pipeline starts at zero)
    monkeypatch.setattr(memguard, "STAGE_STORAGE_FRACTION", 0.3)
    staged2 = dedup._stage(docs.select("doc_id", "text"))
    assert staged2.storageLevel != StorageLevel.DISK_ONLY
    dedup.release_staged(spark)


def test_gram_index_id_monotonicity_enforced(spark, tmp_path):
    """A batch id at or below the index watermark mis-orders the packed
    occurrence keys — clean_against_gram_index must refuse loudly
    (ADVICE r6 #3), and accept once ids clear the watermark."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_gram_index,
        clean_against_gram_index,
    )

    phrase = " ".join(f"m{i}" for i in range(10))
    path = str(tmp_path / "gidx_mono")
    corpus = spark.createDataFrame(
        [(4, "unrelated earlier corpus document body"),
         (5, f"alpha beta {phrase} gamma delta")],
        ["doc_id", "text"],
    )
    build_gram_index(corpus, path)

    # partial range overlap = id reuse, rejected
    reused = spark.createDataFrame(
        [(5, f"totally new framing {phrase} and more")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="id-monotonicity"):
        clean_against_gram_index(spark, reused, path).collect()
    lower = spark.createDataFrame(
        [(3, f"other body {phrase} trailing")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="id-monotonicity"):
        clean_against_gram_index(spark, lower, path).collect()
    # an exact range replay of the BUILD is NOT a retry: build_gram_index
    # is a batch bootstrap the streaming engine never re-delivers, so a
    # batch landing exactly on its id range is id reuse (ADVICE r7 #1)
    replay_build = spark.createDataFrame(
        [(4, "unrelated earlier corpus document body"),
         (5, f"alpha beta {phrase} gamma delta")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="id-monotonicity"):
        clean_against_gram_index(spark, replay_build, path).collect()

    # an exact (min,max)-range replay of an APPEND is a foreachBatch
    # retry: allowed (at-least-once delivery re-runs the failed batch)
    from tern_ep_data_pipeline_spark.operators import dedup as _d
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
    )

    appended = spark.createDataFrame(
        [(8, f"first append zz1 {phrase} zz2 closing"),
         (9, "second append document unrelated")],
        ["doc_id", "text"],
    )
    append_to_gram_index(appended, path)
    assert clean_against_gram_index(spark, appended, path).count() == 2
    _d.release_staged(spark)

    # an exact append (min,max) range carrying DIFFERENT documents is id
    # reuse wearing a retry's range, not a retry: the content fingerprint
    # recorded with the append must match (ADVICE r7 #1, second half)
    imposter = spark.createDataFrame(
        [(8, f"different body {phrase} entirely"),
         (9, "also not the appended document")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="id-monotonicity"):
        clean_against_gram_index(spark, imposter, path).collect()
    _d.release_staged(spark)

    ok = spark.createDataFrame(
        [(16, f"other body {phrase} trailing words here")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in clean_against_gram_index(spark, ok, path).collect()}
    dedup.release_staged(spark)
    assert out[16]["n_removed_tokens"] == 10
    # opt-out path still works for out-of-band-guaranteed callers
    n = clean_against_gram_index(
        spark, ok, path, validate_ids=False
    ).count()
    dedup.release_staged(spark)
    assert n == 1


def test_gram_build_chunked_identical(spark, tmp_path):
    """r12 verdict #2: the memory-derated multi-pass build (sequential
    id-range slices; slice 0 bootstraps, later slices append) must be
    decision-identical to the one-shot build — same distinct-gram
    count, same clean decisions on a later batch — because the read
    side min-combines across appended files."""
    import random

    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_gram_index,
        clean_against_gram_index,
    )

    rng = random.Random(21)
    words = "red green blue cyan teal plum gold jade rust sage".split()
    phrase = " ".join(f"p{i}" for i in range(10))
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(25))
            + (f" {phrase} tail" if i % 7 == 0 else ""))
        for i in range(60)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    flat, chunked = str(tmp_path / "flat"), str(tmp_path / "chunk")
    n_flat = build_gram_index(corpus, flat)
    n_chunk = build_gram_index(corpus, chunked, passes=3)
    assert n_flat == n_chunk

    # meta: one build row + >=1 append rows, watermark = corpus max id
    meta = scan(spark, chunked, "grams_meta").collect()
    kinds = sorted(r["kind"] for r in meta)
    assert kinds[0] == "append" and kinds[-1] == "build" and len(meta) == 3
    assert max(r["max_doc_id"] for r in meta) == 59

    batch = spark.createDataFrame(
        [(100, f"fresh framing {phrase} and trailing body words"),
         (101, "entirely novel unrelated document with private words")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, clean_against_gram_index(spark, batch, flat).collect()))
    dedup.release_staged(spark)
    b = sorted(map(tuple, clean_against_gram_index(spark, batch, chunked).collect()))
    dedup.release_staged(spark)
    assert a == b
    assert a[0][2] > 0  # the indexed phrase was actually cut


def test_gram_build_guard_plan_time(spark, tmp_path, monkeypatch):
    """The build guard classifies at PLAN time: an impossible sizing
    raises CurationMemoryError BEFORE any file is written, and the
    pass model's edges behave (unknown bytes -> single pass; absurd
    corpus -> named floor message, never a silent huge pass count)."""
    import os as _os

    from tern_ep_data_pipeline_spark.operators import dedup_index as di
    from tern_ep_data_pipeline_spark.operators import memguard
    from tern_ep_data_pipeline_spark.plans.curation import CurationMemoryError

    assert memguard.gram_build_passes(spark, None) == (1, None)
    assert memguard.gram_build_passes(spark, 0) == (1, None)
    p, msg = memguard.gram_build_passes(spark, 1 << 45)
    assert msg is not None and "sizing invariant" in msg

    docs = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(12))),
         (2, " ".join(f"b{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    monkeypatch.setattr(
        memguard, "gram_build_passes", lambda s, b: (99, "sizing invariant violated: test")
    )
    path = str(tmp_path / "guarded")
    with pytest.raises(CurationMemoryError, match="test"):
        di.build_gram_index(docs, path)
    assert not _os.path.exists(path)
    # opt-out builds anyway
    assert di.build_gram_index(docs, path, memory_guard=False) > 0


def test_hash_build_fits_gates_on_size(spark):
    """The SHJ hint on the incremental gram-index join is size-gated:
    small estimates hash-join, corpus-scale or unknown estimates take the
    spillable sort-merge path (the sf10 stream OOM class)."""
    from tern_ep_data_pipeline_spark.operators.memguard import (
        hash_build_fits,
        plan_size_estimate,
        unified_pool_bytes,
    )

    pool = unified_pool_bytes(spark)
    assert pool is not None and pool > 0  # local-mode session
    assert hash_build_fits(spark, 1 << 20)          # 1 MB: hash join
    assert not hash_build_fits(spark, 1 << 40)      # 1 TB: sort-merge
    assert not hash_build_fits(spark, None)         # unknown: not safe
    est = plan_size_estimate(spark.range(100).selectExpr("id", "id*2 as b"))
    assert est is None or est > 0


# ----------------------------------------------------- round-8: compaction

def test_compact_gram_index_preserves_decisions(spark, tmp_path):
    """Compaction is a pure re-encoding: the per-batch min-combine over
    compacted rows equals the min over raw appends, so clean decisions on
    the next batch are EXACTLY unchanged — while duplicated append rows
    collapse (the O(index) scan the per-batch join pays shrinks)."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        clean_against_gram_index,
        compact_gram_index,
    )

    phrase = " ".join(f"c{i}" for i in range(10))
    path = str(tmp_path / "gidx_compact")
    corpus = spark.createDataFrame(
        [(1, f"corpus first copy {phrase} end of document")],
        ["doc_id", "text"],
    )
    build_gram_index(corpus, path)
    # two appends that RE-RECORD the phrase grams (each saw a copy) — the
    # raw index now holds 3 rows per phrase gram with the corpus's min key
    for ids in ((10, 11), (20, 21)):
        append_to_gram_index(
            spark.createDataFrame(
                [(ids[0], f"another copy {phrase} trailing"),
                 (ids[1], f"unique filler u{ids[1]} body words")],
                ["doc_id", "text"],
            ),
            path,
        )

    probe = spark.createDataFrame(
        [(30, f"probe document {phrase} with fresh tail tokens"),
         (31, "entirely novel probe body nothing shared")],
        ["doc_id", "text"],
    )
    key = lambda rows: sorted(
        (r["doc_id"], r["clean_text"], r["n_tokens"],
         r["n_removed_tokens"], r["n_dup_spans"])
        for r in rows
    )
    before = key(clean_against_gram_index(spark, probe, path).collect())
    dedup.release_staged(spark)

    stats = compact_gram_index(spark, path)
    assert stats["rows_after"] < stats["rows_before"]
    assert stats["files_after"] <= stats["files_before"]
    # distinct grams survive exactly once
    grams = scan(spark, path, "grams")
    assert grams.count() == grams.select("gram_hash").distinct().count()

    after = key(clean_against_gram_index(spark, probe, path).collect())
    dedup.release_staged(spark)
    assert before == after

    # the append-watermark log is untouched: an exact-range APPEND replay
    # is still recognised as a retry after compaction
    replay = spark.createDataFrame(
        [(20, f"another copy {phrase} trailing"),
         (21, "unique filler u21 body words")],
        ["doc_id", "text"],
    )
    assert clean_against_gram_index(spark, replay, path).count() == 2
    dedup.release_staged(spark)

    # idempotent: compacting a compacted index changes nothing
    stats2 = compact_gram_index(spark, path)
    assert stats2["rows_before"] == stats2["rows_after"] == stats["rows_after"]


def test_compact_chunk_and_line_index(spark, tmp_path):
    """Chunk compaction distincts, line compaction sums — both preserve
    the next batch's results exactly while shrinking the stored rows."""
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_chunk_index,
        append_to_line_index,
        build_chunk_index,
        build_line_index,
        chunk_stats_against_index,
        clean_against_line_index,
        compact_chunk_index,
        compact_line_index,
    )

    cpath = str(tmp_path / "cidx")
    lpath = str(tmp_path / "lidx")
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    base = mk([(1, " ".join(f"t{i}" for i in range(20)))])
    build_chunk_index(base, cpath, chunk_tokens=5)
    build_line_index(mk([(1, "shared line\nalpha only"),
                         (2, "shared line\nbeta only")]), lpath)
    # appends duplicating existing hashes
    append_to_chunk_index(
        base.withColumn("doc_id", base.doc_id + 10), cpath, chunk_tokens=5
    )
    append_to_line_index(mk([(11, "shared line\ngamma only")]), lpath)

    probe_c = mk([(50, " ".join(f"t{i}" for i in range(10)) + " novel tail")])
    probe_l = mk([(60, "shared line\ndelta only")])
    before_c = sorted(map(tuple, chunk_stats_against_index(
        spark, probe_c, cpath, chunk_tokens=5).collect()))
    before_l = sorted(map(tuple, clean_against_line_index(
        spark, probe_l, lpath, min_docs=2).collect()))

    sc = compact_chunk_index(spark, cpath)
    sl = compact_line_index(spark, lpath)
    assert sc["rows_after"] < sc["rows_before"]
    assert sl["rows_after"] < sl["rows_before"]

    after_c = sorted(map(tuple, chunk_stats_against_index(
        spark, probe_c, cpath, chunk_tokens=5).collect()))
    after_l = sorted(map(tuple, clean_against_line_index(
        spark, probe_l, lpath, min_docs=2).collect()))
    assert before_c == after_c
    assert before_l == after_l
    # the summed line counts are true corpus counts: 'shared line' seen in
    # docs 1, 2, 11 -> one row carrying n_docs == 3
    import hashlib

    lh = hashlib.md5(b"shared line").hexdigest()
    rows = scan(spark, lpath, "lines").collect()
    counts = {r["line_hash"]: r["n_docs"] for r in rows}
    assert counts[lh] == 3
    assert len(rows) == len(counts)  # one row per hash after compaction


def test_compact_sizing_uses_post_fold_bytes(spark):
    """_compact_partitions sizes from POST-fold bytes (the manifest's
    live bytes scaled by rows_after/rows_before): a dup-heavy index must
    not fan out into ~dup-factor more sub-MB shards than the compacted
    data warrants (ADVICE r8 #4)."""
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        _compact_partitions,
    )

    raw_bytes = 8 << 20  # 8 MiB of raw appends
    raw = _compact_partitions(spark, raw_bytes)
    folded = _compact_partitions(spark, raw_bytes, row_scale=0.1)
    # unscaled: one shard per raw MiB (+1), floored at the session's
    # decode parallelism — derive from the fixture, don't hard-code
    # (the conftest session is local[4], so the floor clamps 9 -> 4)
    dp = spark.sparkContext.defaultParallelism
    assert raw == min(dp, 9)
    assert folded == 1  # 10x dup factor folds to <1 MiB -> one file
    assert folded < raw
    # scale never INCREASES the count (clamped to [0, 1])
    assert _compact_partitions(spark, raw_bytes, row_scale=5.0) == raw


def _on_disk_parquet(root):
    """Data files under an index root, relative to it."""
    import os

    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    }


def _listed(spark, root):
    from tern_ep_data_pipeline_spark.operators import index_log

    snap = index_log.snapshot(spark, root)
    return {f["path"] for t in snap.tables.values() for f in t["files"]}


def test_compaction_ignores_uncommitted_write(spark, tmp_path, monkeypatch):
    """A write that has not committed (its files sit in a fresh dir no
    manifest lists) is invisible to a compaction and survives the
    compaction's sweep while younger than the grace: the writer can
    still commit after the compaction and lose nothing. Past the grace,
    an abandoned write is swept and the index reads the same."""
    import os

    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        _gram_tables,
        build_gram_index,
        compact_gram_index,
    )

    path = str(tmp_path / "gidx_busy")
    mk = lambda i, w: spark.createDataFrame(
        [(i, f"{w} document body " + " ".join(f"{w}{j}" for j in range(12)))],
        ["doc_id", "text"],
    )
    build_gram_index(mk(1, "w"), path)
    rows = scan(spark, path, "grams").count()
    pending = [
        index_log.write(df, path, table)
        for table, df in _gram_tables(
            mk(2, "x"), "doc_id", "text", 8, 1 << 24, "append"
        ).items()
    ]
    stats = compact_gram_index(spark, path)
    assert stats["rows_before"] == rows  # the pending rows are not in
    for add in pending:
        for f in add["files"]:
            assert os.path.exists(os.path.join(path, f["path"]))
    index_log.commit(spark, path, None, pending)
    assert scan(spark, path, "grams").count() == stats["rows_after"] + sum(
        f["rows"] for f in pending[0]["files"]
    )

    live = _listed(spark, path)
    abandoned = index_log.write(
        _gram_tables(mk(3, "y"), "doc_id", "text", 8, 1 << 24, "append")["grams"],
        path, "grams",
    )
    assert abandoned["files"]
    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    index_log.sweep(spark, path)
    assert _on_disk_parquet(path) == live == _listed(spark, path)


def test_compaction_racing_an_append_keeps_it(spark, tmp_path, monkeypatch):
    """A compaction and an append race on one table with no lock: an
    append that commits between the compaction's read and its commit
    stays live beside the folded files (the compaction rebases onto it),
    and a second compaction that commits in between makes the first
    rerun. Either way the clean decisions equal an index that never
    raced."""
    from tern_ep_data_pipeline_spark.operators import dedup, index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        clean_against_gram_index,
        compact_gram_index,
    )

    phrase = " ".join(f"rc{i}" for i in range(10))
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    base = mk([(1, f"owner doc {phrase} tail words"),
               (2, "another owner body with its own words here")])
    more = mk([(5, f"late copy {phrase} other ending"),
               (6, "fresh appended body nothing shared at all")])
    probe = mk([(10, f"probe copy {phrase} fresh ending"),
                (11, "late copy rc0 rc1 rc2 rc3 rc4 rc5 rc6 rc7 rc8 rc9")])

    def decide(root):
        out = sorted(map(tuple, clean_against_gram_index(
            spark, probe, root).collect()))
        dedup.release_staged(spark)
        return out

    ref = str(tmp_path / "ref")
    build_gram_index(base, ref)
    append_to_gram_index(more, ref)
    expected = decide(ref)

    real_commit = index_log.commit
    attempts: list[str] = []

    def racing(competitor):
        def commit(spark_, root, read_version, adds, removes=(), op="append",
                   **kw):
            if op == "compact":
                attempts.append(op)
                if len(attempts) == 1:
                    competitor(root)
            return real_commit(spark_, root, read_version, adds, removes, op, **kw)
        return commit

    path = str(tmp_path / "raced_append")
    build_gram_index(base, path)
    monkeypatch.setattr(
        index_log, "commit", racing(lambda root: append_to_gram_index(more, root))
    )
    stats = compact_gram_index(spark, path)
    monkeypatch.setattr(index_log, "commit", real_commit)
    assert attempts == ["compact"]  # rebased, not rerun
    assert stats["files_after"] > 1  # the folded file and the append's
    assert decide(path) == expected

    path = str(tmp_path / "raced_compaction")
    build_gram_index(base, path)
    append_to_gram_index(more, path)
    attempts.clear()

    def competing_compaction(root):
        monkeypatch.setattr(index_log, "commit", real_commit)
        compact_gram_index(spark, root)

    monkeypatch.setattr(index_log, "commit", racing(competing_compaction))
    compact_gram_index(spark, path)
    monkeypatch.setattr(index_log, "commit", real_commit)
    assert attempts == ["compact"]  # the loser reran with the real commit
    # build, append, the competitor, the loser's rerun
    assert index_log.snapshot(spark, path).version == 4
    assert decide(path) == expected


def test_incremental_span_floor_calibration():
    """The incremental span-dedup floor constants must reproduce the
    SPILL_r07 grid: 2g/32 passed batch 0 (empty index) and heap-OOM'd at
    batch 1 (~87 MB index; each micro-batch is ~14.9 MB of raw text —
    148.8 MB sf10 corpus over 10 batches); 3g/32 completed all batches
    (index to 894 MB)."""
    from tern_ep_data_pipeline_spark.operators.memguard import (
        _JVM_RESERVED,
        SPAN_RESIDENT_PER_BATCH_BYTE,
        SPAN_RESIDENT_PER_CORE,
        SPAN_RESIDENT_PER_INDEX_BYTE,
    )

    batch = int(14.9 * 2**20)
    cores = 32

    def resident(index_bytes):
        return (
            SPAN_RESIDENT_PER_BATCH_BYTE * batch
            + SPAN_RESIDENT_PER_INDEX_BYTE * index_bytes
            + SPAN_RESIDENT_PER_CORE * cores
        )

    avail_2g = (2 << 30) - _JVM_RESERVED
    avail_3g = (3 << 30) - _JVM_RESERVED
    assert resident(0) <= avail_2g                      # batch 0 passed
    assert resident(87 << 20) > avail_2g                # batch 1 OOM'd
    assert resident(894 << 20) <= avail_3g              # 3g completed

    # SPILL_r08 at its true batch size (the 148.8 MB sf10 corpus over 20
    # batches, ~7.1 MiB text each): 3g/32 completed with the raw-append
    # index at 845 MiB
    batch_r8 = int(148.8 * 10**6 / 20)

    def resident_r8(index_bytes):
        return (
            SPAN_RESIDENT_PER_BATCH_BYTE * batch_r8
            + SPAN_RESIDENT_PER_INDEX_BYTE * index_bytes
            + SPAN_RESIDENT_PER_CORE * cores
        )

    assert resident_r8(845 << 20) <= avail_3g


def test_span_dedup_batch_memory_guard(spark, tmp_path, monkeypatch):
    """Below the incremental floor the guard raises the SAME classified
    error as the batch operators (CurationMemoryError) BEFORE the
    coverage-window stage launches; memory_guard=False opts out."""
    from tern_ep_data_pipeline_spark.operators import dedup, memguard
    from tern_ep_data_pipeline_spark.plans.curation import CurationMemoryError
    from tern_ep_data_pipeline_spark.streaming.curation import span_dedup_batch

    batch = spark.createDataFrame(
        [(1, "some tokens repeated here some tokens repeated here")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "span_idx")

    monkeypatch.setattr(
        memguard,
        "incremental_span_floor_message",
        lambda spark, b, i: "incremental span-dedup sizing invariant violated (test)",
    )
    with pytest.raises(CurationMemoryError, match="sizing invariant"):
        span_dedup_batch(batch, idx, "doc_id", "text")
    # guard fired at plan time: nothing was appended to the index
    import os

    assert not os.path.exists(os.path.join(idx, "grams"))

    out = span_dedup_batch(batch, idx, "doc_id", "text", memory_guard=False)
    assert out.count() == 1
    dedup.release_staged(spark)

    # sized-OK path: the real estimator returns None/OK on this session
    monkeypatch.setattr(
        memguard, "incremental_span_floor_message", lambda spark, b, i: None
    )
    out2 = span_dedup_batch(
        batch.withColumn("doc_id", batch.doc_id + 1), idx, "doc_id", "text"
    )
    assert out2.count() == 1
    dedup.release_staged(spark)


def test_cc_concurrent_tight_runs_refcount(spark, monkeypatch):
    """A tight-mode CC run must not empty the shared checkpoint root while
    ANOTHER tight-mode run is still alive (ADVICE r7 #2): releases are
    refcounted, so the files survive until the last run exits."""
    import os

    from tern_ep_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_tight_memory", lambda spark: True)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    # simulate a second live run holding the checkpoint root
    graph._enter_tight_run(spark)
    try:
        out = connected_components(edges, driver_threshold=0)
        assert out.count() == 5
        local = spark.sparkContext.getCheckpointDir().removeprefix("file:")
        d = next(
            o for o in graph._OWNED_CKPT_DIRS
            if local == o or local.startswith(o + os.sep)
        )
        leftover = [f for _, _, fs in os.walk(d) for f in fs]
        assert leftover != [], (
            "checkpoint files were deleted while a concurrent tight-mode "
            "run was still active"
        )
    finally:
        graph._exit_tight_run(spark)
    # last run out cleans up
    leftover = [f for _, _, fs in os.walk(d) for f in fs]
    assert leftover == []


def test_compaction_crash_recovery_and_uri_root(spark, tmp_path, monkeypatch):
    """A gram compaction killed after writing its folded files but
    before its commit leaves the index as it was: the next span batch
    still cuts the indexed span. A ``file://`` root, which the
    rename-based compactor refused, builds, appends, compacts and sweeps
    through the same commit as a local path."""
    from tern_ep_data_pipeline_spark.operators import dedup, index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_gram_index,
        clean_against_gram_index,
        compact_gram_index,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import span_dedup_batch

    phrase = " ".join(f"rc{i}" for i in range(10))
    owner = spark.createDataFrame(
        [(1, f"owner doc {phrase} tail words")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, f"later copy {phrase} fresh ending")], ["doc_id", "text"]
    )
    path = str(tmp_path / "gidx_recover")
    build_gram_index(owner, path)

    def killed(*a, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(index_log, "commit", killed)
    with pytest.raises(RuntimeError, match="killed"):
        compact_gram_index(spark, path)
    monkeypatch.undo()
    assert len(_on_disk_parquet(path)) > len(_listed(spark, path))
    out = {r["doc_id"]: r for r in span_dedup_batch(batch, path).collect()}
    dedup.release_staged(spark)
    assert out[10]["n_removed_tokens"] == 10  # index was NOT reset

    uri = "file://" + str(tmp_path / "gidx_uri")
    build_gram_index(owner, uri)
    span_dedup_batch(batch.withColumn("doc_id", batch.doc_id + 10), uri)
    dedup.release_staged(spark)
    stats = compact_gram_index(spark, uri)
    assert stats["rows_after"] < stats["rows_before"]
    assert stats["files_after"] == 1
    got = clean_against_gram_index(spark, batch.withColumn(
        "doc_id", batch.doc_id + 20), uri).first()
    dedup.release_staged(spark)
    assert got["n_removed_tokens"] == got["n_tokens"]


def test_compaction_records_clean_watermark(spark, tmp_path):
    """Every gram compaction marks the files it writes in the manifest,
    so the span sink's scheduled hook sees a just-compacted index as
    clean instead of paying another O(index) rewrite on its next turn."""
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        compact_gram_index,
        dirty_fraction,
    )

    path = str(tmp_path / "gidx_watermark")
    build_gram_index(
        spark.createDataFrame(
            [(1, " ".join(f"wm{i}" for i in range(12)))], ["doc_id", "text"]
        ),
        path,
    )
    assert dirty_fraction(spark, path, "grams") == 1.0  # never compacted
    compact_gram_index(spark, path)
    assert dirty_fraction(spark, path, "grams") == 0.0
    append_to_gram_index(
        spark.createDataFrame(
            [(5, " ".join(f"wn{i}" for i in range(12)))], ["doc_id", "text"]
        ),
        path,
    )
    assert 0.0 < dirty_fraction(spark, path, "grams") < 1.0


def test_old_range_partitioned_marker_refused(spark, tmp_path):
    """A gram, chunk or line table that still carries a layout marker
    from an older build (range-partitioned, the wide line index's
    ``{"keep_text": true}``, or a marker that is not JSON at all) is
    refused by append, clean, report and compact alike, before anything
    is written: a root whose table dirs hold files directly and which has
    no manifests is an older build's layout."""
    import os

    from tern_ep_data_pipeline_spark.operators import dedup_index as di

    docs = spark.createDataFrame(
        [(1, " ".join(f"od{i}" for i in range(12)))], ["doc_id", "text"]
    )
    markers = ['{"range_partitions": 4}', '{"keep_text": true}', "{not json"]
    for n, marker in enumerate(markers):
        path = str(tmp_path / f"old_idx{n}")
        for table in ("grams", "chunks", "lines"):
            os.makedirs(os.path.join(path, table))
            with open(os.path.join(path, table, "_layout.json"), "w") as fh:
                fh.write(marker)
        calls = [
            lambda: di.append_to_gram_index(docs, path),
            lambda: di.append_to_chunk_index(docs, path),
            lambda: di.append_to_line_index(docs, path),
            lambda: di.clean_against_gram_index(spark, docs, path),
            lambda: di.chunk_stats_against_index(spark, docs, path),
            lambda: di.clean_against_line_index(spark, docs, path),
            lambda: di.boilerplate_lines_report(spark, docs, path),
            lambda: di.compact_gram_index(spark, path),
            lambda: di.compact_chunk_index(spark, path),
            lambda: di.compact_line_index(spark, path),
        ]
        for call in calls:
            with pytest.raises(ValueError, match="rebuild the index"):
                call()
        for table in ("grams", "chunks", "lines"):
            assert os.listdir(os.path.join(path, table)) == ["_layout.json"]


def test_compaction_crash_with_append_heals_by_merge(spark, tmp_path, monkeypatch):
    """A gram compaction that dies after writing its folded files but
    before its commit, followed by an APPEND: the append commits on top
    of the untouched pre-crash files, nothing is stranded or counted
    twice, the next compaction merges both into one fold, and the dead
    compaction's files are swept once past the grace."""
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        compact_gram_index,
    )

    def grams(root):
        return sorted(map(tuple, scan(spark, root, "grams").groupBy(
            "gram_hash").agg(F.min("first_key")).collect()))

    base = spark.createDataFrame(
        [(1, "original corpus body " + " ".join(f"g{i}" for i in range(30)))],
        ["doc_id", "text"],
    )
    more = spark.createDataFrame(
        [(5, "appended body " + " ".join(f"h{i}" for i in range(30)))],
        ["doc_id", "text"],
    )
    ref = str(tmp_path / "gidx_ref")
    build_gram_index(base, ref)
    append_to_gram_index(more, ref)

    path = str(tmp_path / "gidx_crash")
    build_gram_index(base, path)

    def killed(*a, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(index_log, "commit", killed)
    with pytest.raises(RuntimeError, match="killed"):
        compact_gram_index(spark, path)
    monkeypatch.undo()
    append_to_gram_index(more, path)
    assert grams(path) == grams(ref)
    stats = compact_gram_index(spark, path)
    assert stats["rows_after"] == len(grams(ref))
    assert grams(path) == grams(ref)
    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    index_log.sweep(spark, path)
    assert _on_disk_parquet(path) == _listed(spark, path)



def test_cap_stats_reported_on_match_and_winnow(spark, tmp_path):
    """The r9 #4 cap reporting extended to the remaining silent caps:
    the batch self-join guard in match_against_index and the degenerate-
    fingerprint guard in winnow_containment_pairs both fill a cap_stats
    dict on a constructed degenerate corpus."""
    from tern_ep_data_pipeline_spark.operators import dedup
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_dedup_index,
        match_against_index,
    )
    from tern_ep_data_pipeline_spark.operators.text import (
        winnow_containment_pairs,
        winnowing_fingerprints,
    )

    path = str(tmp_path / "didx")
    seed = spark.createDataFrame(
        [(1, "a seed document with its own distinct words here")],
        ["doc_id", "text"],
    )
    build_dedup_index(seed, path, num_hashes=16, bands=4)
    # NEAR-identical batch docs (exact-identical ones collapse in the
    # exact pass before banding): shared boilerplate, one unique tail
    # token each. max_bucket=0 drops every self-join bucket, so the
    # reported counts are fully determined: all 8x4 band rows dropped.
    batch = spark.createDataFrame(
        [(10 + i, "the same boilerplate licence header text " * 3 + f"t{i}")
         for i in range(8)],
        ["doc_id", "text"],
    )
    stats: dict = {}
    out = match_against_index(
        spark, batch, path, num_hashes=16, bands=4, max_bucket=0,
        cap_stats=stats,
    )
    assert stats["n_band_rows"] == 32  # 8 canon docs x 4 bands
    assert stats["n_band_rows_dropped"] == 32
    assert 4 <= stats["n_buckets_dropped"] <= 32
    assert out.count() == 8  # every doc still classified
    dedup.release_staged(spark)

    # winnowing: one fingerprint shared by every doc (identical text)
    docs = spark.createDataFrame(
        [(i, "repeated body " + " ".join(f"w{j}" for j in range(30)))
         for i in range(6)],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs, "doc_id", "text")
    wstats: dict = {}
    winnow_containment_pairs(fps, max_bucket=3, cap_stats=wstats)
    assert wstats["n_rows"] > 0
    assert wstats["n_rows_dropped"] > 0  # every bucket holds all 6 docs
    assert wstats["n_fingerprints_dropped"] > 0
    dedup.release_staged(spark)


@pytest.mark.parametrize(
    "crash_point",
    ["parent_swap_state", "files_unlisted", "manifest_created", "mid_sweep"],
)
def test_commit_crash_matrix(spark, tmp_path, monkeypatch, crash_point):
    """Crash injection at every step of a match-index compaction: its
    files written but not listed, its manifest created (sweep not run),
    and mid-sweep. Each time a near copy of an indexed doc classifies
    ``near`` as on an uncrashed index, both tables keep every row, and a
    later compaction plus a sweep leave exactly the listed files.

    ``parent_swap_state`` is what the rename-based compactor left when
    killed between its two renames: the plain ``exact`` dir moved to an
    "old" sibling with a "tmp" copy beside it, no manifests (the batch
    never looked at the siblings, so their names do not matter). The
    batch used to read that as an empty index, classify the near copy
    ``fresh`` and overwrite the band rows of all 40 documents with its
    own 8; now the root is refused and nothing is written."""
    import os
    import shutil

    from tern_ep_data_pipeline_spark.operators import dedup_index as di
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.streaming.curation import match_dedup_batch

    schema = "doc_id long, text string"
    docs = [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(40)]
    corpus = spark.createDataFrame(docs, schema)
    near = docs[5][1].rsplit(" ", 2)[0] + " zz98 zz99"
    probe = spark.createDataFrame([(100, near)], schema)
    idx = str(tmp_path / "midx")

    if crash_point == "parent_swap_state":
        di._exact_table(corpus, "doc_id", "text").write.parquet(idx + "/exact")
        di._band_table(corpus, "doc_id", "text", 3, 32, 8, "fast").write.parquet(
            idx + "/bands"
        )
        shutil.copytree(idx + "/exact", idx + "/exact.tmp")
        shutil.copytree(idx + "/exact", idx + "/exact.old")
        shutil.rmtree(idx + "/exact")
        with pytest.raises(ValueError, match="rebuild the index"):
            match_dedup_batch(probe, idx)
        assert spark.read.parquet(idx + "/bands").count() == 320
        assert sorted(os.listdir(idx)) == ["bands", "exact.old", "exact.tmp"]
        return

    di.build_dedup_index(corpus, idx)
    extra = spark.createDataFrame(
        [(50 + i, " ".join(f"e{i}w{j}" for j in range(30))) for i in range(3)],
        schema,
    )
    match_dedup_batch(extra, idx)  # a second set of small files
    rows = {"exact": 43, "bands": 344}

    def table_rows():
        snap = index_log.snapshot(spark, idx)
        return {t: snap.rows(t) for t in rows}

    assert table_rows() == rows

    def killed(*a, **k):
        raise RuntimeError("killed")

    if crash_point == "files_unlisted":
        monkeypatch.setattr(index_log, "commit", killed)
    elif crash_point == "manifest_created":
        monkeypatch.setattr(index_log, "sweep", killed)
    else:  # mid_sweep: the first deletion lands, the second kills it
        real_delete = index_log._delete
        deleted: list[str] = []

        def delete_once(spark_, path):
            if deleted:
                killed()
            deleted.append(path)
            real_delete(spark_, path)

        monkeypatch.setattr(index_log, "GRACE_S", 0.0)
        monkeypatch.setattr(index_log, "_delete", delete_once)
    with pytest.raises(RuntimeError, match="killed"):
        di.compact_match_index(spark, idx)
    monkeypatch.undo()

    assert table_rows() == rows
    got = {r["doc_id"]: (r["status"], r["match_id"])
           for r in match_dedup_batch(probe, idx).collect()}
    assert got == {100: ("near", 5)}
    assert table_rows() == rows

    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    stats = di.compact_match_index(spark, idx)
    assert {t: stats[t]["rows"] for t in rows} == rows
    assert _on_disk_parquet(idx) == _listed(spark, idx)


@pytest.mark.parametrize("crash_point", ["p0_tmp_written", "p1_mid_swap", "p2_old_stale"])
@pytest.mark.parametrize("append_after", [False, True])
def test_swap_crash_matrix(spark, tmp_path, monkeypatch, crash_point, append_after):
    """Crash matrix for a gram-index compaction, with and without an
    append landing before the next read. ``p0_tmp_written``: the folded
    copy is written but never committed. ``p1_mid_swap``: the commit
    landed, the replaced files are still on disk (sweep killed).
    ``p2_old_stale``: the sweep is killed after its first deletion. Each
    time the min-per-gram view equals a never-crashed index over the
    same documents, and a later compaction leaves exactly the listed
    files on disk."""
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        build_gram_index,
        compact_gram_index,
    )

    def frame(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    base = frame(
        [(1, "first corpus body " + " ".join(f"a{i}" for i in range(20))),
         (2, "second corpus body " + " ".join(f"b{i}" for i in range(20)))]
    )
    # a second set of files, so the compaction has more than one to sweep
    base2 = frame([(5, "later corpus body " + " ".join(f"d{i}" for i in range(20)))])
    more = frame([(9, "appended body " + " ".join(f"c{i}" for i in range(20)))])

    def min_view(root):
        return sorted(
            map(
                tuple,
                index_log.scan(spark, root, "grams")
                .groupBy("gram_hash")
                .agg(F.min("first_key").alias("first_key"))
                .collect(),
            )
        )

    # the oracle: the same documents, never crashed
    ref = str(tmp_path / "ref")
    build_gram_index(base, ref)
    append_to_gram_index(base2, ref)
    if append_after:
        append_to_gram_index(more, ref)
    expected = min_view(ref)

    idx = str(tmp_path / "idx")
    build_gram_index(base, idx)
    append_to_gram_index(base2, idx)

    def killed(*a, **k):
        raise RuntimeError("killed")

    if crash_point == "p0_tmp_written":
        monkeypatch.setattr(index_log, "commit", killed)
    elif crash_point == "p1_mid_swap":
        monkeypatch.setattr(index_log, "sweep", killed)
    else:  # p2_old_stale: the first deletion lands, the second kills it
        real_delete = index_log._delete
        deleted: list[str] = []

        def delete_once(spark_, path):
            if deleted:
                killed()
            deleted.append(path)
            real_delete(spark_, path)

        monkeypatch.setattr(index_log, "GRACE_S", 0.0)
        monkeypatch.setattr(index_log, "_delete", delete_once)
    with pytest.raises(RuntimeError, match="killed"):
        compact_gram_index(spark, idx)
    monkeypatch.undo()

    if append_after:
        append_to_gram_index(more, idx)
    assert min_view(idx) == expected
    # and a subsequent real compaction works and preserves the view
    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    compact_gram_index(spark, idx)
    assert min_view(idx) == expected
    assert _on_disk_parquet(idx) == _listed(spark, idx)


def test_scan_rows_lower_bound_detects_unknown_stats(spark, sf_dir):
    """r10 review finding 3: frames with unusable optimizer statistics
    (in-memory relations report sizeInBytes = Long.MaxValue) must fall
    back to an honest count() instead of turning the 'lower bound' into
    a wild overestimate; parquet scans keep the zero-job byte path."""
    from tern_ep_data_pipeline_spark.operators.sampling import (
        scan_rows_lower_bound,
    )

    mem = spark.createDataFrame([(i, "x") for i in range(7)], "id long, t string")
    assert scan_rows_lower_bound(mem, 64) == 7  # count() fallback, exact
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    est = scan_rows_lower_bound(docs, 64 << 10)
    n = docs.count()
    assert 1 <= est <= n  # a true lower bound from real file statistics
