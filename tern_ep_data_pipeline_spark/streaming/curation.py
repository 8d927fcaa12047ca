"""Streaming training-data curation: the batch curation operators
(quality gate, deterministic sampling, exact dedup) re-expressed over an
unbounded document stream.

A live ingestion pipeline (crawl drops, log shippers) wants the same
decisions the batch pass makes, made once per document, with bounded
state. Everything stateful here is watermark-scoped:

- the quality gate and hash sample are pure row predicates (no state);
- exact dedup keys on the normalised content hash via
  ``dropDuplicatesWithinWatermark`` — state for a hash is held only
  until the watermark passes its arrival time, so the store is bounded
  by (arrival rate x horizon), not corpus size.

Corpus-wide LSH banding (a self-join across the whole corpus) has no
bounded-state streaming form — but INCREMENTAL near-dup dedup does
(r13): :func:`match_dedup_batch` / :func:`match_deduped_stream_sink`
classify each micro-batch against the persistent match index
(``dedup_index.match_against_index``) and append the fresh docs, so
per-batch work is O(batch) against index lookups while the index
carries the corpus history. The retrospective full-corpus pass over
the bronze lake remains the right tool for re-deduplicating history
(the lambda shape the reference's scheduled tasks use); the sink is
the arrival-time leg.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import index_log
from ..operators.dedup import normalise_text
from ..operators.sampling import hash_bucket
from ..operators.text import _sql_ident, scrub_pii_sql


def curated_document_stream(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    min_chars: int = 20,
    max_chars: int = 1_000_000,
    sample_fraction: float = 1.0,
    salt: str = "smp",
    scrub: bool = False,
    watermark: str = "1 hour",
    quality_model_path: str | None = None,
    quality_min_prob: float | None = None,
    dsir_ratio_path: str | None = None,
    dsir_min_logweight_micro: int | None = None,
) -> DataFrame:
    """Quality gate -> deterministic hash sample -> PII scrub (optional)
    -> frozen-model quality scoring (optional) -> exact content dedup
    -> DSIR importance scoring (optional), over a streaming document
    source.

    Keeps the FIRST arrival of each distinct normalised content within
    the watermark horizon; later duplicates are dropped while their
    hash is still in state. Decisions are reproducible across restarts:
    the sample is md5-keyed (same salt -> same documents), and the
    content hash is a pure function of the text.

    ``dsir_ratio_path`` (r12 verdict #4) scores every surviving
    document against a FROZEN DSIR ratio artifact
    (:func:`write_dsir_ratio_artifact` — built offline from raw+target,
    refreshed on a cadence by versioned publication) and adds
    ``logweight_micro``; ``dsir_min_logweight_micro`` additionally
    drops documents below the cut — the streaming form of the batch
    ``curate_corpus(dsir_target=...)`` stage, with selection-by-
    threshold replacing Gumbel-top-k (an unbounded stream has no
    bounded-state top-k; run the batch resampler over the scored lake
    for exact parity). Stateless, so it composes after the
    watermark-scoped dedup unchanged.
    """
    s = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    n = F.length(F.trim(F.col(text_col)))
    s = s.where((n >= min_chars) & (n <= max_chars))
    if sample_fraction < 1.0:
        cut = int(round(sample_fraction * 10_000))
        s = s.where(hash_bucket(_sql_ident(id_col), salt) < cut)
    if scrub:
        s = s.withColumn(text_col, F.expr(scrub_pii_sql(_sql_ident(text_col))))
    if quality_model_path is not None:
        # before the dedup so cut documents never consume dedup state;
        # pure whole-stage-codegen expression (quality_scored_stream)
        s = quality_scored_stream(
            s, quality_model_path, text_col, min_prob=quality_min_prob
        )
    s = s.withColumn("content_hash", F.md5(normalise_text(F.col(text_col))))
    s = s.dropDuplicatesWithinWatermark(["content_hash"])
    if dsir_ratio_path is not None:
        s = dsir_scored_stream(
            s, dsir_ratio_path, id_col, text_col,
            min_logweight_micro=dsir_min_logweight_micro,
        )
    return s


def asset_feature_stream(
    stream: DataFrame,
    dim: int = 16,
    use_fake_encoder: bool = True,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming multimodal ingestion: watermark-scoped exact dedup on the
    raw content hash, then the SAME Arrow feature extraction the batch
    path runs (``multimodal.extract_features`` is stateless per row, so it
    composes with a stream unchanged — undecodable assets come out
    quarantined with ``decode_error``, never failing the micro-batch).

    State is bounded exactly like ``curated_document_stream``: a content
    hash lives in the dedup store only until the watermark passes its
    arrival time. Near-dup/embedding dedup stays a batch pass over the
    bronze lake (no bounded-state streaming form).

    SCHEMA NOTE (r12): the output gained a 4th column ``decoder``
    (ADVICE r11 #2 — the per-row decode-path audit). A stream resumed
    against a sink/table created with the old 3-column schema needs a
    one-time sink migration (ALTER TABLE ADD COLUMN / parquet readers
    with mergeSchema) or an explicit ``.select`` of the legacy columns
    before the sink."""
    from ..operators.multimodal import extract_features

    s = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    s = s.withColumn("content_hash", F.md5(F.col("content")))
    s = s.dropDuplicatesWithinWatermark(["content_hash"])
    return extract_features(
        s, dim=dim, use_fake_encoder=use_fake_encoder, on_error="tag"
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on: str,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    the right events for the same key that happened in
    ``(left_ts - max_delay, left_ts]`` — the streaming form of the batch
    range/as-of join family (operators.temporal).

    Both sides carry watermarks, so Spark bounds the join state: a
    buffered right row is dropped once the left watermark passes
    ``right_ts + max_delay``. This is the standard impressions-to-clicks
    attribution shape running continuously instead of as a backfill.
    """
    l = left.withColumn(left_ts, F.col(left_ts).cast("timestamp")).withWatermark(
        left_ts, watermark
    )
    r = right.withColumn(
        right_ts, F.col(right_ts).cast("timestamp")
    ).withWatermark(right_ts, watermark)
    # side-qualified references only: a bare F.expr("<ts> - interval ...")
    # is ambiguous the moment both streams name their timestamp the same
    cond = (
        (l[on] == r[on])
        & (r[right_ts] <= l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"interval {max_delay}"))
    )
    return l.join(r, cond).drop(r[on])


def decontaminated_stream(
    stream: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Streaming train/eval decontamination: drop any streaming document
    sharing an ``n``-token-gram with the (static, bounded) evaluation set.

    The eval side reduces to its distinct gram hashes ONCE, driver-side —
    benchmarks are thousands of documents, so the set is ~1e5 longs, the
    same size class a broadcast join ships — and is closed over by a
    stateless Arrow filter: no streaming state, no watermark interaction,
    decisions identical to the batch ``text.contamination_hits`` flag set
    because both sides hash grams with the shared
    ``text._doc_gram_hashes`` kernel.
    """
    import numpy as np

    from ..operators.text import _doc_gram_hashes, gram_hash_frame

    rows = (
        gram_hash_frame(eval_df, id_col, text_col, n, distinct=True)
        .select("gh")
        .distinct()
        .collect()
    )
    # sorted int64 array, not a Python set: membership is ONE vectorised
    # np.isin per batch (binary search against the sorted side) instead of a
    # per-gram interpreted probe — at 1e5 eval hashes x ~50 grams/doc the
    # set-probe loop was the slowest stage left in the streaming path
    eval_arr = np.sort(
        np.fromiter((int(r["gh"]) for r in rows), dtype=np.int64, count=len(rows))
    )
    schema = stream.schema

    def keep_clean(batches):
        import numpy as np

        memo: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            per_doc = [
                _doc_gram_hashes(raw, n, memo, True).view("int64")
                for raw in pdf[text_col]
            ]
            # every doc yields >= 1 gram hash, so segments are non-empty and
            # reduceat boundaries are strictly valid
            counts = np.fromiter(
                (len(a) for a in per_doc), dtype=np.int64, count=len(per_doc)
            )
            hits = np.isin(np.concatenate(per_doc), eval_arr)
            bounds = np.zeros(len(per_doc), dtype=np.int64)
            np.cumsum(counts[:-1], out=bounds[1:])
            doc_hit = np.logical_or.reduceat(hits, bounds)
            yield pdf[~doc_hit]

    return stream.mapInPandas(keep_clean, schema=schema)


# ------------------------------------------- incremental match dedup

def match_dedup_batch(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
    min_band_matches: int = 1,
    min_est_jaccard: float | None = 0.5,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """One micro-batch of incremental exact+near (MinHash) dedup against
    the persistent match index (r13) — the bounded-state streaming form
    the module docstring says corpus-wide LSH cannot have: per batch,
    the joins touch the batch and the index only (O(batch) work against
    O(1)-per-key index lookups), and the index accumulates so later
    batches see every earlier accepted document. Output: one row per
    batch doc — (doc_id, status, match_id) with ``exact``/``near``/
    ``fresh`` exactly like ``dedup_index.match_against_index`` (whose
    core does the classifying, including the intra-batch self pass).

    Effectively-once under foreachBatch's at-least-once delivery, with
    no state outside the index: both tables' rows of the accepted docs
    land in ONE commit of the index (:mod:`operators.index_log`), so a
    crash before that commit leaves nothing a reader sees, and a crash
    after it leaves both tables complete. A RETRIED batch after a
    commit finds its own first-attempt rows, so each doc that attempt
    accepted matches itself (``match_id == doc_id`` — ids are unique
    and monotonic per the index contract, so only the doc itself can
    produce that). Such self-hits re-classify ``fresh``; matches against
    batch-mates are already consistent because the first attempt's
    intra-batch pass made the same decision. Only the docs the
    classifier called ``fresh`` before that relabel are appended, so a
    replay appends nothing twice.

    The batch is staged once: its exact rows and band rows (hashes and
    MinHash signatures) are materialised with ``localCheckpoint``
    before classifying. The classifier and both appends read those
    staged rows, so the md5 and MinHash pipelines run once per batch,
    and the appends neither re-derive them nor read the batch source
    again.

    Concurrent writers are optimistic: if another append to the match
    index commits between this batch's read and its commit, the batch
    deletes its files and classifies again against the new version (so
    no document is admitted twice); a compaction that commits in
    between does not change what the classifier computes, so the batch
    commits on top of it unchanged. With no index yet, the batch
    classifies against empty tables and its commit creates the index.
    """
    from ..operators.dedup_index import _batch_frames, _match_frames

    spark = batch.sparkSession
    rows, band_rows = _batch_frames(
        batch, id_col, text_col, n, num_hashes, bands, hash_mode, stage=True,
    )
    new_exact = rows.select("content_hash", "doc_id")
    self_hit = (F.col("status") != "fresh") & (
        F.col("match_id") == F.col("doc_id")
    )
    fresh = F.col("status") == "fresh"
    route = spark.sparkContext.setLocalProperty

    def attempt(snap):
        if snap.has("exact"):
            ex_idx = index_log.scan(spark, index_path, "exact", snap)
            bd_idx = index_log.scan(spark, index_path, "bands", snap)
        else:  # no index yet: classify against empty tables
            ex_idx, bd_idx = new_exact.limit(0), band_rows.limit(0)
        matches = _match_frames(
            rows, band_rows, ex_idx, bd_idx, num_hashes, min_band_matches,
            min_est_jaccard, max_bucket,
        )
        # The fresh count rides on the decisions' checkpoint job as a
        # named observed metric, read from that plan's QueryExecution.
        # Not a pyspark ``Observation``: it starts the session's
        # ObservationManager, which cannot be serialized, and from then
        # on every task closure capturing the session fails (pyspark.ml
        # model transforms do). count_if, unlike sum, reads 0 on an
        # empty batch, not null.
        n_fresh = F.count_if(fresh).alias("n_fresh")
        observed = matches.observe("match_sink_counts", n_fresh)
        raw = observed.localCheckpoint()  # decide BEFORE the index moves
        seen = observed._jdf.queryExecution().observedMetrics()
        if seen.contains("match_sink_counts"):
            any_fresh = seen.apply("match_sink_counts").getLong(0) > 0
        else:  # the optimizer pruned the metrics node: count instead
            any_fresh = raw.agg(n_fresh).first()[0] > 0
        out = raw.select(
            "doc_id",
            F.when(self_hit, F.lit("fresh")).otherwise(F.col("status")).alias(
                "status"
            ),
            F.when(
                self_hit, F.lit(None).cast(dict(batch.dtypes)[id_col])
            ).otherwise(F.col("match_id")).alias("match_id"),
        )
        # the route taken lands on a local property (the bloom gates'
        # observability pattern) so tests and bench cells can pin it
        if not any_fresh:
            route("tern.match_sink.append_route", "no-fresh-docs")
            return [], [], "append", out  # nothing accepted: no commit
        route("tern.match_sink.append_route", "append")
        # Fresh docs are always canonical: a non-canonical copy always
        # has a batch_exact hit. So the staged band rows (canonical docs
        # only) cover every fresh doc. Both appends read only
        # checkpointed frames, never the batch source or the index.
        # (the ids join on an expression, not on=, which would move
        # doc_id to the front of the appended rows)
        fresh_ids = F.broadcast(
            raw.where(fresh).select(F.col("doc_id").alias("__id"))
        )
        is_id = F.col("doc_id") == F.col("__id")
        adds = [
            index_log.write(
                new_exact.join(fresh_ids, is_id, "left_semi"),
                index_path, "exact",
            ),
            index_log.write(
                band_rows.join(fresh_ids, is_id, "left_semi"),
                index_path, "bands",
            ),
        ]
        return adds, [], "append", out

    return index_log.transact(spark, index_path, attempt)[0]


def match_deduped_stream_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    **match_kwargs,
):
    """Streaming exact+near dedup via ``foreachBatch``: each micro-batch
    classifies against (and extends) the persistent match index
    (:func:`match_dedup_batch`), and its (doc_id, status, match_id)
    decisions land in an own ``batch_id=N`` parquet partition with
    overwrite — the span sink's effectively-once output pattern on top
    of the batch operator's replay-safe index rules.

    ``compact_every=N`` compacts the index after every N-th batch
    (``compact_match_index`` bin-packs the small files): each append
    lands a file set per table, so small batches degrade the classifier
    scan linearly in BATCH COUNT until compaction resets it (BLOOM_r15
    measured 1000-doc batches drifting to ~33 s/batch over 100
    uncompacted appends). A compaction from another process may run at
    any time too: it commits like any writer, and a batch it races
    rebases onto it (:func:`match_dedup_batch`)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        match_dedup_batch(
            batch, index_path, id_col, text_col, **match_kwargs
        ).write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        if compact_every and (batch_id + 1) % compact_every == 0:
            from ..operators.dedup_index import compact_match_index

            compact_match_index(batch.sparkSession, index_path)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )


# ------------------------------------------------- frozen-model artifacts
#
# An artifact is an index-log root (:mod:`operators.index_log`): each
# publish writes its tables into fresh ``<table>/<uuid>/`` dirs and
# commits them as the next manifest with one blind overwrite. Two
# publishers racing both commit, each version listing one publisher's
# whole payload; a killed publisher leaves only unlisted files, which
# the next publish's sweep deletes once past ``index_log.GRACE_S``.


def _publish(spark, path: str, adds: list[dict]) -> int:
    """Commit ``adds`` (``index_log.write`` results) as the artifact's
    next version, replacing every table they touch; returns the version
    this commit created."""
    snap = index_log.commit(spark, path, None, adds, op="overwrite")
    index_log.sweep(spark, path)
    return snap.version


def _artifact(spark, path: str, table: str) -> index_log.Snapshot:
    """The newest version of the artifact at ``path``. An older build's
    layout is refused (``index_log.snapshot``); a root with no version
    holding ``table`` raises FileNotFoundError."""
    snap = index_log.snapshot(spark, path)
    if not snap.has(table):
        raise FileNotFoundError(f"no published artifact under {path!r}")
    return snap


def _json_table(spark, doc: dict) -> DataFrame:
    """``doc`` as a one-row, one-column (``json``) table."""
    return spark.createDataFrame([(json.dumps(doc),)], "json string")


def _read_json_table(spark, snap: index_log.Snapshot, table: str) -> dict:
    return json.loads(index_log.scan(spark, snap.root, table, snap).first()["json"])


def write_quality_model_artifact(
    weights: dict,
    path: str,
    spark=None,
) -> dict:
    """Publish sampled-trainer quality weights
    (``quality_model.train_quality_weights_sampled``) as a frozen
    artifact for streaming scorers — the second leg of the
    frozen-model pattern next to the DSIR ratio table (r13). Validates
    the feature-set contract eagerly: ``quality_prob_expr``'s inline
    zip is positional, so mismatched columns must fail at WRITE time,
    not when a stream restarts at 3am.

    The weights go as JSON into a one-row ``model`` table, committed as
    the artifact's next version (module comment above), on a local path
    and an object store alike. Returns the payload with the ``version``
    this publish committed. ``spark`` (for the path's Hadoop
    filesystem) defaults to the active session."""
    from pyspark.sql import SparkSession

    from ..operators.quality_model import HEURISTIC_FEATURES

    if list(weights.get("cols", ())) != list(HEURISTIC_FEATURES):
        raise ValueError(
            "weights were fitted on a different feature set/order than "
            f"HEURISTIC_FEATURES: {weights.get('cols')!r}"
        )
    payload = {k: weights[k] for k in ("cols", "mean", "std", "w", "b")}
    spark = spark or SparkSession.active()
    adds = [index_log.write(_json_table(spark, payload), path, "model")]
    return dict(payload, version=_publish(spark, path, adds))


def load_quality_model(path: str, spark=None) -> dict:
    """The weights of the newest version of a frozen quality model, with
    that ``version`` (``spark`` defaults to the active session)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.active()
    snap = _artifact(spark, path, "model")
    return dict(_read_json_table(spark, snap, "model"), version=snap.version)


def quality_scored_stream(
    stream: DataFrame,
    model_path: str,
    text_col: str = "text",
    min_prob: float | None = None,
) -> DataFrame:
    """Score each streaming document with a frozen quality model: adds
    ``quality_prob`` and optionally cuts below ``min_prob``. The model
    folds into ONE whole-stage-codegen column expression
    (``quality_model.quality_prob_expr``) — no Python, no join, no
    state; identical scores to the batch filter by construction (same
    expression over the same row)."""
    from ..operators.quality_model import quality_prob_expr

    weights = load_quality_model(model_path, spark=stream.sparkSession)
    s = stream.withColumn(
        "quality_prob", quality_prob_expr(weights, text_col)
    )
    if min_prob is not None:
        s = s.where(F.col("quality_prob") >= F.lit(float(min_prob)))
    return s


# --------------------------------------------------------------- DSIR

def write_dsir_ratio_artifact(
    raw: DataFrame,
    target: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    smoothing: float = 1.0,
    salt: str = "dsir",
    vocab_top_k: int = 0,
) -> dict:
    """Materialise the DSIR importance log-ratio table as a FROZEN,
    versioned artifact (r12 verdict #4): at 100 TB the ratio
    model is built once from raw+target (or refreshed on a lake
    cadence), and every streaming micro-batch scores against the
    persisted table — the same frozen-model pattern as
    ``quality_model`` (train offline, apply as a pure predicate).

    Layout: a ``ratio`` table (bucket, lr_pico — at most ``buckets``
    rows), a ``vocab`` table and a one-row ``meta`` table pinning
    (buckets, smoothing, salt, bucket hash), so a scorer can refuse an
    artifact whose feature space doesn't match its configuration. All
    three commit together as the artifact's next version (module
    comment above the quality-model writer), on a local path and an
    object store alike; a scorer reads one version at stream
    construction. Returns the meta with the ``version`` this publish
    committed; row counts come from the written files' footers.

    ``vocab_top_k`` (r14 verdict #3) fills the ``vocab`` table, a
    VOCABULARY SIDECAR: the top-K grams of the RAW pool by occurrence
    count (the distribution the scorer will see). It is empty when
    ``vocab_top_k=0``, so a refresh never leaves an older sidecar live.
    The fast scorer prewarms its per-task gram tables from the sidecar
    once per task, so a task's EARLY batches skip the md5-and-insert
    work for the corpus's hot vocabulary (BLOOM_r15 cold-start cell:
    1.36x on a fresh task's first batch, scores pinned equal). The
    sidecar carries STRINGS only — every lr value is always recomputed
    from the loaded ratio table through the same kernel the lazy path
    uses, so parity holds by construction. One extra map-side-combinable
    count + top-K job at build time, amortised over the model's refresh
    cadence.

    Sizing honesty (BLOOM_r15): the lazy path's miss handling is
    already vectorised, so prewarm only buys the per-batch cold-start
    overhead — at a 200k-gram sidecar the one-time prewarm (~0.2-0.5 s
    per task) breaks even after a few tens of thousands of docs per
    task. Opt in for LONG-lived tasks (the 100 TB steady state: one
    task streams millions of docs); short jobs should publish with
    ``vocab_top_k=0``, since :func:`dsir_scored_stream` prewarms from a
    sidecar whenever the artifact has one.
    """
    from ..operators.sampling import _dsir_grams, dsir_logratio

    lr = dsir_logratio(
        raw, target, id_col, text_col,
        buckets=buckets, smoothing=smoothing, salt=salt,
    )
    # deterministic top-K: count desc, gram asc tiebreak (a TakeOrdered
    # plan — map-side partial top-K, no full sort); limit 0 plans as an
    # empty relation, so vocab_top_k=0 scans nothing
    vocab = (
        _dsir_grams(raw, id_col, text_col)
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("__g"))
        .limit(int(vocab_top_k))
        .select(F.col("__g").alias("gram"), "n")
    )
    spark = raw.sparkSession
    adds = [
        index_log.write(lr, path, "ratio"),
        index_log.write(vocab, path, "vocab"),
    ]
    meta = {
        "buckets": int(buckets),
        "smoothing": float(smoothing),
        "salt": salt,
        # the bucket hash the model was built with — a scorer whose
        # kernel computes a different hash family must refuse the
        # artifact rather than score against mismatched buckets (r13
        # verdict #1). Both scorer kernels (portable hashlib loop and
        # the vectorised numpy fast mode) compute exactly this hash.
        "hash": "md5-60bit",
        "n_ratio_rows": sum(f["rows"] for f in adds[0]["files"]),
    }
    if vocab_top_k:
        meta["vocab_top_k"] = int(vocab_top_k)
        meta["n_vocab_rows"] = sum(f["rows"] for f in adds[1]["files"])
    adds.append(index_log.write(_json_table(spark, meta), path, "meta"))
    return dict(meta, version=_publish(spark, path, adds))


def _dsir_ratio(spark, snap: index_log.Snapshot) -> tuple[dict, dict]:
    meta = dict(_read_json_table(spark, snap, "meta"), version=snap.version)
    rows = index_log.scan(spark, snap.root, "ratio", snap).collect()
    table = {int(r["bucket"]): int(r["lr_pico"]) for r in rows}
    if len(table) != meta.get("n_ratio_rows", len(table)):
        raise ValueError(
            f"DSIR ratio artifact {snap.root!r} version {snap.version} is "
            f"inconsistent: meta pins {meta.get('n_ratio_rows')} rows, "
            f"table has {len(table)}"
        )
    return table, meta


def _dsir_vocab(spark, snap: index_log.Snapshot) -> list | None:
    if not snap.rows("vocab"):
        return None
    # Arrow toPandas, not collect(): a 200k-row collect crosses py4j
    # row by row (~seconds) and this load sits on the stream-
    # construction path; the columnar transfer is ~50x faster and the
    # session enables Arrow by default
    pdf = (
        index_log.scan(spark, snap.root, "vocab", snap)
        .orderBy(F.desc("n"), F.asc("gram"))
        .select("gram")
        .toPandas()
    )
    return pdf["gram"].tolist()


def load_dsir_ratio(spark, path: str) -> tuple[dict, dict]:
    """(bucket -> lr_pico dict, meta with its ``version``) from the
    newest version of a ratio artifact — the driver-side frozen model a
    stateless scorer closes over (≤ the configured bucket count of
    (int, int) pairs, the same size class ``decontaminated_stream``
    collects). The whole table collects here, so a long-running stream
    outliving many refreshes keeps its model after the sweep deletes
    the files it was read from."""
    return _dsir_ratio(spark, _artifact(spark, path, "meta"))


def load_dsir_vocab(spark, path: str) -> list | None:
    """The gram strings of the newest version's vocabulary sidecar
    (hot-first: count desc, gram asc — the order they were ranked at
    build time), or None when that version ships none."""
    return _dsir_vocab(spark, _artifact(spark, path, "meta"))


class _DsirFastScorer:
    """Vectorised DSIR scoring kernel (r13 verdict #1) — the per-batch
    body behind :func:`dsir_scored_stream`.

    Design: the hash family is FIXED (the artifact's portable 60-bit
    md5), so the only latitude is where Python touches occurrences.
    A per-token loop pays two dict lookups + a bound-method call per
    token (BLOOM_r14 measured it 1.35-1.46x slower end to end); this
    kernel makes the per-OCCURRENCE path pure C and spends Python only
    on genuinely NEW vocabulary:

    - tokens factorise per batch (one C hash pass over all
      occurrences), then map to PERSISTENT stable codes via a dict
      probe over the batch's UNIQUE tokens only; new tokens are
      md5-hashed once (``md5np.md5_hex60`` — bit-equal to hashlib, so
      the stream cannot diverge from the batch scorer's md5) and join
      the code space.
    - bigrams become int64 composite keys of adjacent stable codes —
      no bigram STRING is ever built for a known pair. Known pairs
      resolve from a dict keyed by the composite; only the misses
      materialise strings for hashing, once per pair ever.
    - per-doc sums are two ``np.add.reduceat`` segment reductions over
      int64 (exact — float accumulators would break the integer-equal
      parity pin past 2^53).

    Growth is AMORTISED O(new) per batch (r15): the r14 kernel kept a
    pandas Index and a sorted pair-key array, both rebuilt/re-sorted
    whenever ANY new gram appeared — O(vocab) per batch, which a
    heavy-tailed corpus (new pairs forever) pays on every batch, and
    which the r15 vocabulary-sidecar prewarm AMPLIFIED (a prewarmed
    200k-entry Index made every rebuild 4x dearer; the zipf cell
    measured the prewarmed scorer SLOWER than cold). Dicts + a
    capacity-doubling lr buffer make growth incremental, so prewarm is
    a one-time insert and steady batches touch only their own unique
    grams. State is per-TASK (an Arrow iterator closure) and capped:
    past ``max_vocab`` entries the tables stop growing and later
    misses re-hash per batch (graceful, never wrong); the r13 per-token
    kernel's string-keyed memo grew without bound, so the cap is
    strictly tighter than that behaviour.

    The default cap sizes for many concurrent tasks per executor: 2M
    token entries cost ~200-300 MB (Python string + dict slot
    overhead dominates) and 2M pair-dict entries ~160 MB, so a 4-task
    executor stays under ~2 GB of scorer state. Raise it for
    wide-memory single-task readers, not as a default.
    """

    MAX_VOCAB = 2_000_000

    #: Per-doc |pico sum| past which the vectorised int64 segment sums
    #: (np.add.reduceat) and the 2*|s| micro conversion could WRAP
    #: silently, while the batch scorer's exact decimal sums would not —
    #: a stream/batch parity break on pathologically long documents
    #: (ADVICE r14; |sum| near 2^63 is reachable at the 1<<24
    #: max-doc-token scale with large ratios). Docs whose worst-case
    #: bound (2 * ntoks * max|lr_pico|, unigrams + bigrams) exceeds
    #: this route through :meth:`_score_doc_pyint` instead — identical
    #: semantics in arbitrary-precision Python ints. 2^61 leaves the
    #: micro conversion's 2*|s| + 1e6 comfortably inside int64.
    OVERFLOW_GUARD_PICO = 1 << 61

    def __init__(self, table: dict, prefix: bytes, buckets: int,
                 max_vocab: int | None = None):
        import numpy as np
        import pandas as pd

        self._np, self._pd = np, pd
        self.table = table
        self.prefix = prefix
        self.buckets = buckets
        self.max_vocab = self.MAX_VOCAB if max_vocab is None else max_vocab
        self.max_abs_pico = max(
            (abs(int(v)) for v in table.values()), default=0
        )
        self.tok_map: dict = {}      # token -> stable code
        self.code2tok: list = []     # stable code -> token
        self.lr_buf = np.empty(0, dtype=np.int64)  # capacity buffer
        self.n_tok = 0               # used prefix of lr_buf
        self.pair_map: dict = {}     # int64 composite key -> lr pico

    def _append_lr(self, vals) -> None:
        """Append per-token lr values to the capacity-doubling buffer
        (amortised O(new) — never a full copy per batch)."""
        np = self._np
        n, m = self.n_tok, len(vals)
        if n + m > len(self.lr_buf):
            grown = np.empty(max(4096, 2 * (n + m)), dtype=np.int64)
            grown[:n] = self.lr_buf[:n]
            self.lr_buf = grown
        self.lr_buf[n:n + m] = vals
        self.n_tok = n + m

    def _lr_of(self, grams: list) -> "np.ndarray":  # noqa: F821
        """pico contribution per gram string (0 when the bucket is
        absent — the batch scorer's inner join drops it identically)."""
        from ..operators.md5np import md5_hex60

        np = self._np
        bks = md5_hex60(
            [self.prefix + g.encode() for g in grams]
        ) % self.buckets
        return np.fromiter(
            (self.table.get(int(b), 0) for b in bks), np.int64, len(bks)
        )

    def prewarm(self, grams) -> None:
        """Bulk-resolve a vocabulary sidecar's grams into the
        persistent tables (r14 verdict #3) — one md5 pass at task
        start instead of lazy per-batch misses. Unigrams (no space)
        join the token code space; bigrams ("a b") first ensure both
        component tokens are coded, then join the pair table keyed by
        stable codes. Values come from :meth:`_lr_of` — the exact
        kernel the lazy path uses — so a prewarmed scorer is
        score-identical to a cold one by construction. Respects
        ``max_vocab`` (hot-first sidecar order means the cap keeps the
        hottest grams). One md5 pass + dict inserts — no per-batch
        structure is rebuilt, so prewarm cost is strictly one-time."""
        unis: list = []
        pairs: list = []
        for g in grams:
            (pairs if " " in g else unis).append(g)
        comp: list = []
        for p in pairs:
            a, _, b = p.partition(" ")
            comp.append(a)
            comp.append(b)
        pending: dict = {}
        for t in unis + comp:
            if t not in self.tok_map and t not in pending:
                pending[t] = None
        room = self.max_vocab - self.n_tok
        new_toks = list(pending)[: max(0, room)]
        if new_toks:
            base = self.n_tok
            self._append_lr(self._lr_of(new_toks))
            for i, t in enumerate(new_toks):
                self.tok_map[t] = base + i
            self.code2tok.extend(new_toks)
        if not pairs:
            return
        cand: dict = {}
        tm = self.tok_map
        for p in pairs:
            a, _, b = p.partition(" ")
            ca = tm.get(a)
            cb = tm.get(b)
            if ca is None or cb is None:  # cap cut a component token
                continue
            key = (ca << 32) | cb
            if key not in self.pair_map and key not in cand:
                cand[key] = p
        room = self.max_vocab - len(self.pair_map)
        items = list(cand.items())[: max(0, room)]
        if items:
            vals = self._lr_of([p for _, p in items])
            for (key, _), v in zip(items, vals.tolist()):
                self.pair_map[key] = int(v)

    def _score_doc_pyint(self, text: str) -> int:
        """Arbitrary-precision route for one OVERFLOW-RISKY document:
        a per-token loop (hashlib md5, dict walk, Python-int
        accumulation) with the vectorised path's semantics, so the score
        stays exact where int64 cannot be trusted."""
        import hashlib

        from ..operators.dedup import py_tokens

        table, prefix, buckets = self.table, self.prefix, self.buckets
        memo: dict[str, int] = {}

        def bucket_of(g: str) -> int:
            b = memo.get(g)
            if b is None:
                b = int(
                    hashlib.md5(prefix + g.encode()).hexdigest()[:15], 16
                ) % buckets
                memo[g] = b
            return b

        s = 0
        prev = None
        for t in py_tokens(text):
            lr = table.get(bucket_of(t))
            if lr is not None:
                s += lr
            if prev is not None:
                lr2 = table.get(bucket_of(prev + " " + t))
                if lr2 is not None:
                    s += lr2
            prev = t
        den = 1_000_000
        return (
            (2 * s + den) // (2 * den)
            if s >= 0
            else -((2 * (-s) + den) // (2 * den))
        )

    def score(self, texts) -> "np.ndarray":  # noqa: F821
        from ..operators.dedup import py_tokens

        np, pd = self._np, self._pd
        nd = len(texts)
        toks_per_doc = [py_tokens(t) for t in texts]
        ntoks = np.fromiter(
            (len(t) for t in toks_per_doc), dtype=np.int64, count=nd
        )  # always >= 1: py_tokens("") == [""]
        if self.max_abs_pico:
            # int64 wrap guard (ADVICE r14): docs long enough that the
            # worst-case |pico sum| could exceed OVERFLOW_GUARD_PICO
            # leave the vectorised path for the Python-int twin. The
            # bound is exact-conservative (every gram at max|lr|), so
            # the reroute can only be too careful, never too late.
            nt_limit = self.OVERFLOW_GUARD_PICO // (2 * self.max_abs_pico)
            if int(ntoks.max()) > nt_limit:
                risky = ntoks > nt_limit
                tl = list(texts)
                out = np.empty(nd, dtype=np.int64)
                safe_idx = np.nonzero(~risky)[0]
                if len(safe_idx):
                    out[safe_idx] = self.score([tl[i] for i in safe_idx])
                for i in np.nonzero(risky)[0]:
                    out[i] = self._score_doc_pyint(tl[i])
                return out
        total = int(ntoks.sum())
        flat = np.asarray(
            [t for ts in toks_per_doc for t in ts], dtype=object
        )
        codes, uniq = pd.factorize(flat, sort=False)
        tm = self.tok_map
        stable = np.fromiter(
            (tm.get(t, -1) for t in uniq), dtype=np.int64, count=len(uniq)
        )
        new_mask = stable == -1
        codes_are_stable = True
        if new_mask.any():
            new_toks = uniq[new_mask].tolist()
            new_lr = self._lr_of(new_toks)
            base = self.n_tok
            stable = stable.copy()
            stable[new_mask] = base + np.arange(
                len(new_toks), dtype=np.int64
            )
            if base + len(new_toks) <= self.max_vocab:
                self._append_lr(new_lr)
                for i, t in enumerate(new_toks):
                    tm[t] = base + i
                self.code2tok.extend(new_toks)
                uni_occ = self.lr_buf[: self.n_tok][stable[codes]]
            else:
                # capped: batch-local codes — usable for THIS batch's
                # sums and pair keys, but they must never persist (the
                # same code would mean a different token next batch)
                codes_are_stable = False
                ext_lr = np.concatenate([self.lr_buf[:base], new_lr])
                uni_occ = ext_lr[stable[codes]]
        else:
            uni_occ = self.lr_buf[: self.n_tok][stable[codes]]
        sc = stable[codes].astype(np.int64)
        starts = np.zeros(nd, dtype=np.int64)
        np.cumsum(ntoks[:-1], out=starts[1:])
        sums = np.add.reduceat(uni_occ, starts)

        nbig = ntoks - 1
        tb = int(nbig.sum())
        if tb:
            # adjacent-pair keys, doc boundaries masked out
            k = (sc[:-1] << np.int64(32)) | sc[1:]
            keep = np.ones(total - 1, dtype=bool)
            keep[starts[1:] - 1] = False
            ukey, inv = np.unique(k[keep], return_inverse=True)
            pm = self.pair_map
            got = [pm.get(x) for x in ukey.tolist()]
            lr_u = np.fromiter(
                (v if v is not None else 0 for v in got),
                dtype=np.int64, count=len(got),
            )
            miss_idx = [i for i, v in enumerate(got) if v is None]
            if miss_idx:
                nk = ukey[miss_idx]
                # pair strings exist only HERE — once per new pair
                c2t = self.code2tok
                if not codes_are_stable:
                    c2t = c2t + new_toks
                gs = [
                    c2t[int(x >> 32)] + " " + c2t[int(x & 0xFFFFFFFF)]
                    for x in nk
                ]
                vals_new = self._lr_of(gs)
                lr_u[np.asarray(miss_idx, dtype=np.int64)] = vals_new
                if codes_are_stable:
                    room = self.max_vocab - len(pm)
                    if room > 0:
                        for x, v in zip(
                            nk[:room].tolist(), vals_new[:room].tolist()
                        ):
                            pm[x] = v
            bstarts = np.zeros(nd, dtype=np.int64)
            np.cumsum(nbig[:-1], out=bstarts[1:])
            # reduceat over pair-OWNING docs only: zero-pair docs make
            # empty segments, which reduceat misreads as a one-element
            # sum — and clamping a trailing zero-pair doc's start would
            # silently SHRINK the previous doc's segment instead
            nz = nbig > 0
            bsum = np.zeros(nd, dtype=np.int64)
            bsum[nz] = np.add.reduceat(lr_u[inv], bstarts[nz])
            sums = sums + bsum

        den = 1_000_000
        neg = sums < 0
        micro = (2 * np.abs(sums) + den) // (2 * den)
        np.negative(micro, where=neg, out=micro)
        return micro


def dsir_scored_stream(
    stream: DataFrame,
    ratio_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_logweight_micro: int | None = None,
) -> DataFrame:
    """Score each streaming document against a frozen DSIR ratio
    artifact: adds ``logweight_micro`` (exact integer micro-log units,
    the batch scorer's currency) and optionally filters below
    ``min_logweight_micro``.

    Stateless per row — the ratio table, its meta and its vocabulary
    sidecar are read from ONE version of the artifact at stream
    construction and closed over by an Arrow kernel (no watermark, no
    streaming state; a restart from checkpoint re-reads the newest
    version, so decisions stay reproducible while the artifact is not
    refreshed in between). The kernel mirrors
    the batch pipeline exactly: ``py_tokens`` (the pinned ASCII-``\\s``
    twin of ``dedup.tokens``), unigram+bigram grams, the portable
    60-bit md5 bucket hash (the artifact's pinned ``hash``; a mismatch
    refuses at construction), integer pico-log sum over buckets PRESENT
    in the table (absent buckets contribute nothing — the batch
    scorer's inner join drops them identically), and the same
    half-away-from-zero integer division to micro units.

    The kernel is :class:`_DsirFastScorer` (r13 verdict #1): per Arrow
    batch, ONE pandas pass builds all unigram+bigram occurrences, only
    NEW unique grams are hashed (``md5np.md5_hex60``, a numpy MD5 that
    is bit-equal to hashlib), a memo carries resolved grams across
    batches, and per-doc sums are int64 segment reductions. Integer
    equality with the batch scorer and with a per-token reference is
    pinned in tests/test_dsir.py. When the artifact ships a vocabulary
    sidecar (``write_dsir_ratio_artifact(vocab_top_k=...)``), the
    kernel prewarms each task's gram tables from it at construction —
    eliminating the per-task cold-start md5 work on the corpus's hot
    vocabulary — with scores pinned identical by construction (the
    sidecar carries strings; values always come from the ratio table).

    Documents whose grams all miss the table score 0 — same weight the
    batch scorer's sum-of-nothing would produce for selection purposes.
    """
    from pyspark.sql import types as T

    spark = stream.sparkSession
    snap = _artifact(spark, ratio_path, "meta")
    table, meta = _dsir_ratio(spark, snap)
    if meta.get("hash", "md5-60bit") != "md5-60bit":
        raise ValueError(
            f"DSIR ratio artifact {ratio_path!r} pins bucket hash "
            f"{meta.get('hash')!r}; this scorer computes md5-60bit — "
            "refusing to score against mismatched buckets"
        )
    # vocabulary sidecar (r14 verdict #3): read from the same version as
    # the table, shipped as a Spark broadcast (one copy per executor,
    # not per task), prewarmed into each task's scorer. Strings only —
    # correctness never depends on it (see prewarm).
    grams = _dsir_vocab(spark, snap)
    bvocab = spark.sparkContext.broadcast(grams) if grams else None
    buckets, salt = int(meta["buckets"]), meta["salt"]
    # a fresh StructType, NOT stream.schema.add(...): DataFrame.schema is
    # cached and .add mutates it in place, silently corrupting the
    # source frame's resolved schema
    schema_out = T.StructType(
        list(stream.schema.fields)
        + [T.StructField("logweight_micro", T.LongType())]
    )
    prefix = f"{salt}:".encode()

    def score(batches):
        scorer = _DsirFastScorer(table, prefix, buckets)
        if bvocab is not None:
            scorer.prewarm(bvocab.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["logweight_micro"] = scorer.score(pdf[text_col])
            yield pdf

    scored = stream.mapInPandas(score, schema=schema_out)
    if min_logweight_micro is not None:
        scored = scored.where(
            F.col("logweight_micro") >= F.lit(int(min_logweight_micro))
        )
    return scored


def dsir_scored_stream_sink(
    stream: DataFrame,
    ratio_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_logweight_micro: int | None = None,
):
    """Streaming DSIR scoring via ``foreachBatch``: each micro-batch is
    scored against the frozen ratio artifact and lands in its own
    ``batch_id=N`` parquet partition with overwrite — foreachBatch is
    at-least-once, so a retried batch replaces its own output instead
    of appending a duplicate copy (the span sink's effectively-once
    pattern). Scoring is stateless against a frozen model, so a
    restart re-scores a re-delivered batch IDENTICALLY while the
    artifact is not refreshed in between; kill/restart exactly-once is
    pinned in tests/test_dsir.py."""
    scored = dsir_scored_stream(
        stream, ratio_path, id_col, text_col,
        min_logweight_micro=min_logweight_micro,
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        _dsir_write_batch(batch, batch_id, out_path)

    return (
        scored.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )


def _dsir_write_batch(batch: DataFrame, batch_id: int, out_path: str) -> None:
    """One idempotent sink write (module-level so crash-injection tests
    can fault exactly one batch, like the span sink's append seam)."""
    batch.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")


def span_dedup_batch(
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_doc_tokens: int = 1 << 24,
    memory_guard: bool = True,
) -> DataFrame:
    """One micro-batch of incremental ExactSubstr span dedup: clean the
    batch against the gram index, then append the batch's ORIGINAL grams.

    The clean and the append are one optimistic transaction on the index
    (:mod:`operators.index_log`): the batch cleans against the newest
    version and commits its grams and its ``grams_meta`` watermark row,
    together, against that version. If another append to the gram index
    commits in between, the batch deletes its files and cleans again
    against the new version; a compaction in between changes no decision
    (the min over compacted rows is the min over the appends), so the
    batch commits on top of it. No lock is held, so a maintenance
    ``compact_dedup_indexes`` neither waits for a batch nor makes one
    wait.

    Appending the original (not cleaned) text makes the index converge to
    exactly the full-corpus first-occurrence keys, so a later batch's
    decisions equal what batch ``substring_dedup`` over the union would
    decide. Earlier batches were decided before later data existed —
    inherent to any incremental dedup, same contract as the exact/chunk/
    line indexes.

    ``memory_guard`` (default on) applies the plan-time sizing check for
    the incremental path (``memguard.incremental_span_floor_message``):
    below the floor this stage dies with a RAW executor heap OOM in the
    per-document coverage windows (SPILL_r07, 2g/32 at batch 1) — the
    guard turns that into a ``CurationMemoryError`` naming the invariant
    BEFORE the stage launches, matching the batch operators' failure
    quality.

    The plan taken is published thread-locally as SparkContext local
    property ``tern.span_dedup.plan`` (``dir`` / ``bootstrap``) for
    sinks and benches to record. Past the broadcast threshold the index
    read is pruned by the batch's own grams
    (``dedup_index.clean_against_gram_index``); that route lands on
    ``tern.index_prune``.
    """
    from ..operators.dedup import release_staged, substring_dedup
    from ..operators.dedup_index import (
        _gram_tables,
        clean_against_gram_index,
    )
    from ..operators.memguard import (
        incremental_span_floor_decidable,
        incremental_span_floor_message,
    )

    spark = batch.sparkSession

    def attempt(snap):
        have_index = snap.has("grams")
        # decidability FIRST: on a cluster without executor mem/core
        # confs the floor model can never fire, and the batch-bytes
        # aggregate below is a full extra scan of the micro-batch —
        # don't pay it for a no-op check
        if memory_guard and incremental_span_floor_decidable(spark):
            # raw text bytes via a map-only aggregate: a streaming
            # micro-batch frame carries no usable Catalyst size estimate
            # (measured r8 — the plan-stats path silently skipped the
            # guard and the JVM died with a raw heap OOM at the 2g
            # floor), and text bytes are the quantity the coverage-window
            # resident model is calibrated on
            batch_bytes = batch.agg(
                F.sum(F.octet_length(F.col(text_col)))
            ).collect()[0][0]
            floor_msg = incremental_span_floor_message(
                spark, batch_bytes, snap.bytes("grams")
            )
            if floor_msg is not None:
                from ..plans.curation import CurationMemoryError

                raise CurationMemoryError(floor_msg)
        spark.sparkContext.setLocalProperty(
            "tern.span_dedup.plan", "dir" if have_index else "bootstrap"
        )
        if have_index:
            cleaned = clean_against_gram_index(
                spark, batch, index_path, id_col, text_col,
                min_tokens=min_tokens, max_doc_tokens=max_doc_tokens,
            )
        else:  # first batch: no index yet == the plain batch operator
            cleaned = substring_dedup(
                batch, id_col, text_col,
                min_tokens=min_tokens, max_doc_tokens=max_doc_tokens,
            )
        out = cleaned.localCheckpoint()  # decide BEFORE the index moves
        # the operator stages its token table per call; a long-running
        # stream must not accumulate one persisted frame per micro-batch
        release_staged(spark)
        frames = _gram_tables(
            batch, id_col, text_col, min_tokens, max_doc_tokens, "append"
        )
        adds = [
            index_log.write(df, index_path, table)
            for table, df in frames.items()
        ]
        return adds, [], "append", out

    return index_log.transact(spark, index_path, attempt)[0]


def span_deduped_stream_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_doc_tokens: int = 1 << 24,
    compact_every: int | None = None,
    memory_guard: bool = True,
):
    """Streaming ExactSubstr span dedup via ``foreachBatch``: each
    micro-batch is cleaned against the gram index, lands as parquet, and
    its grams join the index for every later batch.

    Crash-safety is where the gram index earns its shape: a re-delivered
    micro-batch re-appends the same per-gram minima, and ``min`` is
    idempotent — the index is unchanged, unlike a count-based index
    (lines) where re-delivery would double-count. The parquet OUTPUT is
    made idempotent explicitly: foreachBatch is at-least-once, so each
    batch lands in its own ``batch_id=N`` partition directory with
    overwrite — a retried batch replaces its own output instead of
    appending a duplicate copy. So the sink is effectively-once for both
    the index and the output.

    ``compact_every=N`` checks the gram index after every N-th batch and
    compacts it (``dedup_index.compact_gram_index``) once the bytes no
    compaction wrote pass 20% of the table's live bytes
    (``dedup_index.dirty_fraction``, read from the manifest): appends
    re-record every gram
    the batch shares with the corpus, so without compaction the
    per-batch min-combine scan pays for append duplication that the
    index's min semantics make redundant. Compaction between batches
    cannot change any later batch's decisions (min over compacted rows
    == min over raw appends) and a retried batch re-appends after the
    compacted files, which the same min absorbs — so the
    effectively-once story is unchanged.

    Each batch's index read prunes itself by the batch's own grams
    once the index is past the session's broadcast threshold — the
    regime where the O(index) pre-join aggregation shuffle dominates
    (BLOOM_r12/r13 sink cells) — and scans it whole below that;
    decisions are identical either way (:func:`span_dedup_batch`).
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        span_dedup_batch(
            batch, index_path, id_col, text_col,
            min_tokens=min_tokens, max_doc_tokens=max_doc_tokens,
            memory_guard=memory_guard,
        ).write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        if compact_every and (batch_id + 1) % compact_every == 0:
            from ..operators.dedup_index import (
                compact_gram_index,
                dirty_fraction,
            )

            # explicit compaction is unconditional BY DESIGN, so the
            # scheduled hook reads which live bytes a compaction wrote —
            # an O(index) rewrite only once the appends since the last
            # one exceed 20% (r10)
            if dirty_fraction(batch.sparkSession, index_path, "grams") > 0.2:
                compact_gram_index(batch.sparkSession, index_path)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
