"""Incremental dedup: match new document batches against a persisted index.

At 100 TB you do not re-run corpus-wide dedup per ingest batch. The
corpus maintains a *dedup index* — two small-per-doc tables:

- ``exact``: (content_hash, doc_id) — md5 of normalised text;
- ``bands``: (band, bh, doc_id)   — the MinHash LSH band buckets.

A new batch is then classified with joins that touch only the batch and
the index (never the corpus text): exact duplicates semi-join the hash
table; near-dup candidates equi-join the band table and verify with
MinHash signature agreement; everything else is fresh. Appending the
accepted batch's rows keeps the index current — each ingest batch costs
O(batch), not O(corpus).

Every table is a plain parquet directory: a reader needs no catalog
entry, so an index survives a session restart as its files. Compaction
swaps directories with local renames; once a batch's index scan would
pass the broadcast threshold, the match classifier semi-joins the index
by the batch's own keys so only O(batch) rows shuffle (see
:func:`_match_frames`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import shutil
import socket
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bloom as bloom_ops
from . import dedup as dedup_ops
from .memguard import index_past_broadcast, plan_size_estimate


def _exact_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.md5(dedup_ops.normalise_text(F.col(text_col))).alias("content_hash"),
        F.col(id_col).alias("doc_id"),
    )


def _band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    hash_mode: str,
) -> DataFrame:
    """(band, bh, doc_id, sig array<long>) — band buckets plus the full
    signature so candidate verification needs no text access."""
    sig = dedup_ops.minhash_signatures(
        df, id_col, text_col, n, num_hashes, hash_mode
    )
    # the ONE band-hash definition, shared with minhash_lsh_candidates —
    # a drift would silently stop index lookups colliding with batch LSH
    band_arr = ", ".join(
        f"struct({b} as band, "
        f"{dedup_ops.band_hash_sql(b, num_hashes, bands, hash_mode)} as bh)"
        for b in range(bands)
    )
    sig_arr = ", ".join(f"h{j}" for j in range(num_hashes))
    return sig.selectExpr(
        "__id as doc_id", f"array({sig_arr}) as sig", f"explode(array({band_arr})) as __band"
    ).select("__band.band", "__band.bh", "doc_id", "sig")


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
) -> dict:
    """Materialise the index for an (already deduplicated) corpus."""
    _exact_table(docs, id_col, text_col).write.mode("overwrite").parquet(
        os.path.join(path, "exact")
    )
    _band_table(docs, id_col, text_col, n, num_hashes, bands, hash_mode).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "bands"))
    spark = docs.sparkSession
    return {
        "exact_rows": spark.read.parquet(os.path.join(path, "exact")).count(),
        "band_rows": spark.read.parquet(os.path.join(path, "bands")).count(),
    }


def match_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
    min_band_matches: int = 1,
    min_est_jaccard: float | None = 0.5,
    max_bucket: int | None = 100_000,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Classify a new batch against the index AND against itself.

    Output: one row per batch row (a doc_id repeated in the batch gets
    one per copy) — (doc_id, match_id, status) with status ``exact``
    (content hash already indexed, or duplicated within the batch —
    match_id is the indexed doc / the batch's min-id copy),
    ``near`` (LSH band collision verified by signature agreement, vs the
    index or a lower-id batch doc), or ``fresh``. Without the intra-batch
    pass, two copies arriving in the same batch would both classify
    fresh and both enter the index — permanently breaking the
    already-deduplicated-corpus invariant. Joins touch the batch and the
    index only; the corpus text is never read.

    Verification: a band collision is a *candidate*; the fraction of
    agreeing minhash lanes between the two full signatures is an
    unbiased estimate of the Jaccard similarity, so candidates with
    estimated similarity below ``min_est_jaccard`` are rejected without
    any text access (pass ``None`` to accept every band collision).
    ``match_id`` is the lowest-id surviving match.

    There is no Bloom prefilter here: this operator has no index-side
    pre-join aggregation for one to save — both index scans stream
    straight into batch-keyed joins, which already drop non-matching
    index rows during the probe (BLOOM_r12 match cell: the prune cost
    wall 6.0→8.5 s and raised shuffle 3.2→12.6 MB). Past the broadcast
    threshold, where the joins would shuffle the corpus-sized index per
    batch, an exact semi-join prune engages instead — see
    :func:`_match_frames`.
    """
    return _match_frames(
        *_batch_frames(
            new_docs, id_col, text_col, n, num_hashes, bands, hash_mode
        ),
        spark.read.parquet(os.path.join(path, "exact")),
        spark.read.parquet(os.path.join(path, "bands")),
        num_hashes, min_band_matches, min_est_jaccard, max_bucket,
        cap_stats,
    )


def _batch_frames(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    hash_mode: str,
    stage: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The batch's two per-doc frames, the only place they are derived:

    - ``rows``: (content_hash, doc_id, __canon), one per input row, with
      ``__canon`` the lowest id sharing the row's content hash;
    - ``bands``: (band, bh, doc_id, sig), :func:`_band_table` over the
      canonical docs only.

    The classifier reads both, and a sink appends its fresh docs' rows
    straight from them. ``stage=True`` materialises each with
    ``localCheckpoint`` (rows first, so the md5 pass runs once): a
    Catalyst plan is a tree, and an unstaged frame read k times is
    evaluated k times."""
    rows = _exact_table(docs, id_col, text_col).withColumn(
        "__canon", F.min("doc_id").over(Window.partitionBy("content_hash"))
    )
    if stage:
        rows = rows.localCheckpoint()
    # Exact-dedup the batch BEFORE banding: identical docs (the common
    # degenerate case — boilerplate, empty docs) collapse to one canonical
    # representative, so the intra-batch (band, bh) self-join cannot go
    # quadratic on them. Non-canonical copies are classified by the cheap
    # ``batch_exact`` pass and never need a signature at all.
    canon_docs = docs.join(
        rows.select(F.col("__canon").alias(id_col)), on=id_col, how="left_semi"
    )
    band_rows = _band_table(
        canon_docs, id_col, text_col, n, num_hashes, bands, hash_mode
    )
    if stage:
        band_rows = band_rows.localCheckpoint()
    return rows, band_rows


def _match_frames(
    rows: DataFrame,
    new_bands: DataFrame,
    ex_idx: DataFrame,
    band_idx: DataFrame,
    num_hashes: int,
    min_band_matches: int,
    min_est_jaccard: float | None,
    max_bucket: int | None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """The core of :func:`match_against_index`: the batch arrives as the
    two frames of :func:`_batch_frames`, the index as its two parquet
    scans.

    Regime gate (:func:`memguard.index_past_broadcast` on the bands
    scan): past the broadcast threshold both index frames are first
    pruned by an EXACT broadcast left-semi join on the batch's own keys
    (content hashes / (band, bh) — always O(batch), always
    broadcastable); the prune is map-side, so the downstream joins
    shuffle O(batch) survivors instead of the index. Decision-identical
    by construction: a left-semi on the join keys keeps every row that
    could join."""
    if index_past_broadcast(band_idx):
        ex_idx = ex_idx.join(
            F.broadcast(rows.select("content_hash").dropDuplicates()),
            on="content_hash",
            how="left_semi",
        )
        band_idx = band_idx.join(
            F.broadcast(new_bands.select("band", "bh").dropDuplicates()),
            on=["band", "bh"],
            how="left_semi",
        )
    exact_hits = rows.join(
        ex_idx.select("content_hash", F.col("doc_id").alias("match_id")),
        on="content_hash",
    )
    cand = (
        new_bands.join(
            band_idx.select(
                "band",
                "bh",
                F.col("doc_id").alias("match_id"),
                F.col("sig").alias("sig_idx"),
            ),
            on=["band", "bh"],
        )
        .groupBy("doc_id", "match_id")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.first("sig").alias("sig"),
            F.first("sig_idx").alias("sig_idx"),
        )
        .where(F.col("n_bands") >= min_band_matches)
    )
    if min_est_jaccard is not None:
        agree = F.size(
            F.filter(
                F.zip_with("sig", "sig_idx", lambda a, b: a == b),
                lambda x: x,
            )
        )
        cand = cand.where(agree / F.lit(num_hashes) >= min_est_jaccard)

    # ---- intra-batch passes: a batch must also be deduped against itself
    batch_exact = rows.where(F.col("doc_id") != F.col("__canon")).select(
        "doc_id", F.col("__canon").alias("match_id")
    )

    self_bands = new_bands
    if max_bucket is not None:
        # same degenerate-bucket guard as minhash_lsh_candidates: one
        # near-identical boilerplate key must not make the self-join
        # quadratic (the batch-vs-index join above is linear per bucket
        # hit and keeps the full table). Reported like the LSH cap
        # (VERDICT r9 #4): cap_stats fills eagerly from one O(batch)
        # aggregation.
        wb = Window.partitionBy("band", "bh")
        flagged = new_bands.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        if cap_stats is not None:
            cap_stats.update(
                dedup_ops.bucket_cap_stats(
                    flagged, max_bucket, "__bsz",
                    "n_band_rows_dropped", "n_buckets_dropped", "n_band_rows",
                )
            )
        self_bands = flagged.where(F.col("__bsz") <= max_bucket).drop("__bsz")
    a = self_bands.select(
        "band", "bh", F.col("doc_id").alias("__ida"), F.col("sig").alias("__siga")
    )
    b = self_bands.select(
        "band", "bh", F.col("doc_id").alias("doc_id"), F.col("sig").alias("__sigb")
    )
    batch_cand = (
        a.join(b, on=["band", "bh"])
        .where(F.col("__ida") < F.col("doc_id"))  # match the lower id
        .groupBy("doc_id", "__ida")
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.first("__siga").alias("__siga"),
            F.first("__sigb").alias("__sigb"),
        )
        .where(F.col("n_bands") >= min_band_matches)
    )
    if min_est_jaccard is not None:
        bagree = F.size(
            F.filter(
                F.zip_with("__siga", "__sigb", lambda x, y: x == y), lambda x: x
            )
        )
        batch_cand = batch_cand.where(
            bagree / F.lit(num_hashes) >= min_est_jaccard
        )
    batch_near = batch_cand.withColumnRenamed("__ida", "match_id")

    # precedence: exact (index, then batch) over near (index, then batch),
    # and the lowest candidate id inside it: one min over (rank, match_id)
    # per doc across every hit of every set. A per-set min first would be
    # one more aggregation per set for the same answer, and a chain of
    # left-anti joins against the growing union would read that union
    # twice per level and double the plan at each one.
    hits = functools.reduce(
        DataFrame.unionByName,
        [
            frame.select("doc_id", F.lit(rank).alias("__rank"), "match_id")
            for rank, frame in enumerate(
                (exact_hits, batch_exact, cand, batch_near)
            )
        ],
    )
    best = hits.groupBy("doc_id").agg(
        F.min(F.struct("__rank", "match_id")).alias("__best")
    )
    # one decision per input row: a left join keeps every batch row (a
    # doc_id repeated in the batch gets one row per copy) and a row
    # without a hit is fresh. The batch is read once, not once more for
    # an anti-join whose result would be unioned back.
    return (
        rows.select("doc_id")
        .join(best, on="doc_id", how="left")
        .select(
            "doc_id",
            F.col("__best.match_id").alias("match_id"),
            F.when(F.col("__best").isNull(), "fresh")
            .when(F.col("__best.__rank") <= 1, "exact")
            .otherwise("near")
            .alias("status"),
        )
    )


def _append_index_rows(rows: DataFrame, leg: str, path: str) -> None:
    """Append precomputed ``exact`` or ``bands`` rows to ``<path>/<leg>``,
    one leg of the match index. The one write path of the public
    ``append_*`` functions and :func:`match_dedup_batch`."""
    rows.write.mode("append").parquet(os.path.join(path, leg))


def append_exact_to_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """The exact-table leg of :func:`append_to_index`, separable so a
    retrying caller can make EACH leg independently idempotent (ADVICE
    r13: the two legs are two separate write jobs — a crash between
    them must be healable per leg, not skipped whole)."""
    _append_index_rows(
        _exact_table(accepted_docs, id_col, text_col), "exact", path
    )


def append_bands_to_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
) -> None:
    """The bands-table leg of :func:`append_to_index` (see
    :func:`append_exact_to_index` for why the legs are separable)."""
    _append_index_rows(
        _band_table(
            accepted_docs, id_col, text_col, n, num_hashes, bands, hash_mode
        ),
        "bands",
        path,
    )


def append_to_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
) -> None:
    """Append accepted (fresh) docs' rows so later batches see them."""
    append_exact_to_index(accepted_docs, path, id_col, text_col)
    append_bands_to_index(
        accepted_docs, path, id_col, text_col, n, num_hashes, bands, hash_mode
    )


# ------------------------------------------------ chunk-level (sub-document)

def _chunk_table(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int
) -> DataFrame:
    """(chunk_hash,) — the distinct chunk hashes of an accepted corpus.
    One shuffle (map-side-combinable distinct on a 16-byte key)."""
    return (
        dedup_ops.chunk_frame(df, id_col, text_col, chunk_tokens)
        .select(F.md5(F.col("__chunk")).alias("chunk_hash"))
        .distinct()
    )


def build_chunk_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> int:
    """Materialise the sub-document chunk index next to the exact/band
    tables; returns the distinct-chunk count."""
    cp = os.path.join(path, "chunks")
    _chunk_table(docs, id_col, text_col, chunk_tokens).write.mode(
        "overwrite"
    ).parquet(cp)
    return docs.sparkSession.read.parquet(cp).count()


def chunk_stats_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Incremental sub-document dedup: per new document, how much of it is
    chunks the corpus has already accepted (or that an earlier document in
    the same batch owns).

    A chunk occurrence is a DUPLICATE if its hash is in the index
    (established corpus always wins) or if a lower occurrence key in this
    batch owns the hash (the same rule as ``dedup.chunk_dedup_stats``).
    Output matches ``chunk_dedup_stats``: (id, n_chunks, n_dup_chunks,
    dup_chunk_frac, kept_tokens) — callers gate on ``dup_chunk_frac``
    exactly as in the batch plan.

    Scale shape: O(batch) — the batch's chunk occurrences join the index
    on the hash (shuffle-hash: the index side is corpus-sized, too big to
    broadcast but never scanned more than once) plus one within-batch
    groupBy.min; the index text is never read. Past the broadcast
    threshold (:func:`memguard.index_past_broadcast`) the index scan is
    first pruned by the batch's chunk hashes
    (:func:`bloom.prune_index_by_keys`), so the distinct below shuffles
    ~O(batch) candidate hashes instead of the whole index; the rows are
    the same either way.
    """
    cp = os.path.join(path, "chunks")
    _refuse_layout_marker(cp)
    raw = spark.read.parquet(cp).select(F.col("chunk_hash").alias("__h"))
    occ = (
        dedup_ops.chunk_frame(new_docs, id_col, text_col, chunk_tokens)
        .select(
            "__id",
            "__ctoks",
            F.md5(F.col("__chunk")).alias("__h"),
            F.struct(
                F.col("__id").alias("i"), F.col("__pos").alias("p")
            ).alias("__occ"),
        )
    )
    occ = dedup_ops._stage(occ)
    # distinct BEFORE the left join: the index accumulates parquet appends
    # and the same chunk_hash routinely lands in several of them (accepted
    # docs below the gate still carry already-indexed chunks); a plain left
    # join would multiply each matching occurrence row per index copy,
    # inflating n_chunks / n_dup_chunks — the exact value callers gate on.
    if index_past_broadcast(raw):
        # staged occ reports a garbage estimate pre-materialisation; the
        # batch scan's bytes are a safe over-estimate of the chunk-hash
        # key set (one 32-hex hash per ~10 tokens of text)
        indexed = (
            bloom_ops.prune_index_by_keys(
                raw, ["__h"], occ, size_hint=plan_size_estimate(new_docs)
            )
            .distinct()
            .withColumn("__indexed", F.lit(True))
        )
    else:
        indexed = (
            raw.distinct()
            .withColumn("__indexed", F.lit(True))
            .hint("shuffle_hash")
        )
    batch_first = occ.groupBy("__h").agg(F.min("__occ").alias("__first"))
    joined = occ.join(batch_first, on="__h").join(indexed, on="__h", how="left")
    dup = F.coalesce(F.col("__indexed"), F.lit(False)) | (
        F.col("__occ") != F.col("__first")
    )
    return joined.groupBy(F.col("__id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup.cast("long")).alias("n_dup_chunks"),
        F.round(F.sum(dup.cast("long")) / F.count(F.lit(1)), 6).alias(
            "dup_chunk_frac"
        ),
        F.sum(F.when(dup, F.lit(0)).otherwise(F.col("__ctoks"))).alias(
            "kept_tokens"
        ),
    )


def append_to_chunk_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> None:
    """Append accepted docs' distinct chunk hashes. Each append is distinct
    WITHIN itself only — the same hash recurs across appends, which is why
    :func:`chunk_stats_against_index` distincts the index before joining
    (compact the parquet dir on the lake's schedule to bound re-reads)."""
    cp = os.path.join(path, "chunks")
    with index_lease(cp, "append"):
        _refuse_layout_marker(cp)
        _chunk_table(accepted_docs, id_col, text_col, chunk_tokens).write.mode(
            "append"
        ).parquet(cp)


# ------------------------------------------------- line (boilerplate) index

def _trimmed_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str,
    min_line_chars: int,
) -> DataFrame:
    """(__id, __t) — one row per trimmed line of at least
    ``min_line_chars`` characters."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.split(F.col(text_col), re.escape(delimiter))
        ).alias("__line"),
    ).select("__id", F.trim("__line").alias("__t"))
    return lines.where(F.length("__t") >= min_line_chars)


def _line_count_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str,
    min_line_chars: int,
) -> DataFrame:
    """(line_hash, n_docs) — per trimmed line, DISTINCT docs containing it
    within this frame. Map-side-combinable on the 16-byte hash."""
    return _trimmed_lines(
        df, id_col, text_col, delimiter, min_line_chars
    ).groupBy(F.md5("__t").alias("line_hash")).agg(
        F.countDistinct("__id").alias("n_docs")
    )


def build_line_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_line_chars: int = 1,
) -> int:
    """Materialise the corpus line-count index (CCNet boilerplate removal,
    incremental form) next to the exact/band/chunk tables; returns the
    distinct-line count. The index holds (line_hash, n_docs) only: no
    reader needs the corpus's line text (:func:`boilerplate_lines_report`
    takes it from the batch)."""
    lp = os.path.join(path, "lines")
    _line_count_table(
        docs, id_col, text_col, delimiter, min_line_chars
    ).write.mode("overwrite").parquet(lp)
    return docs.sparkSession.read.parquet(lp).count()


def _corpus_line_counts(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    delimiter: str,
    min_line_chars: int,
) -> DataFrame:
    """(line_hash, n_docs) — the corpus distinct-doc count per line hash,
    summed over the index's appends (counts add because ingest batches
    hold disjoint doc sets). Past the broadcast threshold
    (:func:`memguard.index_past_broadcast`) the index scan is first
    pruned by the batch's line hashes (one extra O(batch) line pass;
    identical counts for every batch line — mechanics:
    :func:`bloom.prune_index_by_keys`)."""
    lp = os.path.join(path, "lines")
    _refuse_layout_marker(lp)
    scan = spark.read.parquet(lp).select("line_hash", "n_docs")
    if index_past_broadcast(scan):
        # hint with the batch scan's bytes (like the chunk consumer):
        # the key frame is an aggregate whose Catalyst estimate is
        # unreliable, and docs bytes safely over-estimate the line-hash
        # key set — which also lets the bloom path size its bitmap for
        # its fpp instead of the fixed default geometry
        scan = bloom_ops.prune_index_by_keys(
            scan,
            ["line_hash"],
            _line_count_table(
                new_docs, id_col, text_col, delimiter, min_line_chars
            ),
            size_hint=plan_size_estimate(new_docs),
        )
    return scan.groupBy("line_hash").agg(F.sum("n_docs").alias("n_docs"))


def clean_against_line_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_line_chars: int = 1,
    delimiter: str = "\n",
) -> DataFrame:
    """Incremental CCNet line dedup: boilerplate = lines whose distinct-doc
    count ACROSS the established corpus plus this batch clears
    ``min_docs`` — so a line already common in the corpus is stripped from
    a new document on arrival, and a batch against an empty index
    reproduces ``dedup.line_dedup_frame`` exactly.

    Output matches ``line_dedup_frame``. Scale shape: O(batch) — the
    batch's line counts left-join the index counts on the hash
    (shuffle-hash: corpus-sized index, read once, text never read;
    pruned by the batch past the broadcast threshold, see
    :func:`_corpus_line_counts`).
    """
    return dedup_ops.line_dedup_frame(
        new_docs,
        id_col,
        text_col,
        min_docs=min_docs,
        min_line_chars=min_line_chars,
        delimiter=delimiter,
        index_counts=_corpus_line_counts(
            spark, new_docs, path, id_col, text_col, delimiter, min_line_chars
        ),
    )


def append_to_line_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_line_chars: int = 1,
) -> None:
    """Append this batch's per-line distinct-doc counts. Counts sum across
    appends into true corpus counts because batches are doc-disjoint;
    compact the parquet dir on the lake's schedule to bound re-reads."""
    lp = os.path.join(path, "lines")
    with index_lease(lp, "append"):
        _refuse_layout_marker(lp)
        _line_count_table(
            accepted_docs, id_col, text_col, delimiter, min_line_chars
        ).write.mode("append").parquet(lp)


def boilerplate_lines_report(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_line_chars: int = 1,
    delimiter: str = "\n",
) -> DataFrame:
    """What boilerplate would :func:`clean_against_line_index` strip
    from this batch, as TEXT: one row per batch line whose combined
    corpus+batch distinct-doc count clears ``min_docs`` — (line,
    n_docs_total, n_docs_batch), hottest first. The operational twin of
    the clean path: ``min_docs`` is tuned by eyeballing exactly this
    (CCNet practice — inspect the candidate boilerplate before raising
    or lowering the threshold; reference relevance: the human-audit
    report surfaces of `code/network_monitoring/network_status.py:434-557`,
    which publish what the pipeline DID for operators to inspect).

    The report never touches corpus text: each line's text comes from
    the batch itself, and the index gives only the corpus count per
    line hash (the same read as the clean path, so it is pruned by the
    batch past the broadcast threshold). Identical report on every
    route.
    """
    # every row of one hash carries the same text (md5 keying), so the
    # min is exact, not a choice
    batch = _trimmed_lines(
        new_docs, id_col, text_col, delimiter, min_line_chars
    ).groupBy(F.md5("__t").alias("line_hash")).agg(
        F.countDistinct("__id").alias("n_docs_batch"),
        F.min("__t").alias("line"),
    )
    corpus = _corpus_line_counts(
        spark, new_docs, path, id_col, text_col, delimiter, min_line_chars
    )
    # batch lines drive the join (O(batch) result); corpus counts come
    # from the (possibly pruned) index side only
    joined = batch.join(corpus, on="line_hash", how="left")
    return (
        joined.select(
            F.col("line"),
            (
                F.coalesce(F.col("n_docs"), F.lit(0))
                + F.col("n_docs_batch")
            ).alias("n_docs_total"),
            F.col("n_docs_batch"),
        )
        .where(F.col("n_docs_total") >= F.lit(int(min_docs)))
        .orderBy(F.desc("n_docs_total"), F.asc("line"))
    )


def _gram_first_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    max_doc_tokens: int,
) -> DataFrame:
    """(gram_hash, first_key) — per portable (md5) gram, the minimum
    occurrence key ``id * max_doc_tokens + pos`` within this frame.
    Map-side-combinable (min over a long)."""
    toks = df.select(
        F.col(id_col), dedup_ops.tokens(F.col(text_col)).alias("__t")
    )
    grams = dedup_ops._gram_pos_frame_portable(toks, id_col, min_tokens)
    return grams.groupBy(F.col("__g").alias("gram_hash")).agg(
        F.min(
            F.col(id_col).cast("long") * F.lit(max_doc_tokens) + F.col("__pos")
        ).alias("first_key")
    )


def _meta_row(docs: DataFrame, id_col: str, text_col: str, kind: str) -> DataFrame:
    """One watermark-log row for a build/append: the batch's id range
    plus an order-independent content fingerprint (sum of
    ``xxhash64(id, text)`` — rides the same map-side aggregate as the
    min/max, no extra scan). The fingerprint lets the replay carve-out
    tell a genuine foreachBatch retry (identical rows → identical
    fingerprint) from a full-range id REUSE carrying different
    documents, which must be rejected like any other overlap
    (ADVICE r7 #1). XOR-fold, not sum: a long SUM of hashes overflows,
    which ANSI mode (Spark 4 default) turns into a task-killing
    ArithmeticException; XOR is order-independent and overflow-free,
    and batch ids are unique (monotonicity contract), so identical
    pairs cannot cancel."""
    return docs.agg(
        F.min(F.col(id_col).cast("long")).alias("min_doc_id"),
        F.max(F.col(id_col).cast("long")).alias("max_doc_id"),
        F.lit(kind).alias("kind"),
        F.bit_xor(
            F.xxhash64(F.col(id_col).cast("long"), F.col(text_col))
        ).alias("fingerprint"),
    )


def _refuse_layout_marker(table_dir: str) -> None:
    """Refuse a gram, chunk or line table that carries a layout marker
    (``_layout.json``). This version writes none, so a marker is an
    older build's layout (range-partitioned, or the wide line index);
    every append, read and compact checks here instead of appending to
    it, reading it or rewriting it as flat. Presence is enough: a
    corrupt marker is refused too."""
    if os.path.exists(os.path.join(table_dir, "_layout.json")):
        raise ValueError(
            f"index table {table_dir!r} carries a layout marker "
            "(_layout.json) from an older build whose layout this version "
            "does not read; rebuild the index with its build_*_index "
            "function"
        )


def _write_compact_meta(table_dir: str) -> None:
    """Record the table's byte size at compaction time — the clean
    watermark :func:`dirty_fraction` compares appends against."""
    with open(os.path.join(table_dir, "_compact_meta.json"), "w") as fh:
        json.dump({"bytes": _dir_bytes(table_dir)}, fh)


def dirty_fraction(table_dir: str) -> float:
    """The fraction of the table's bytes appended since its last
    compaction (1.0 when never compacted)."""
    cur = _dir_bytes(table_dir)
    try:
        with open(os.path.join(table_dir, "_compact_meta.json")) as fh:
            clean = int(json.load(fh)["bytes"])
    except (OSError, ValueError, KeyError):
        return 1.0
    return max(cur - clean, 0) / cur if cur else 0.0


def build_gram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_doc_tokens: int = 1 << 24,
    memory_guard: bool = True,
    passes: int | None = None,
) -> int:
    """Materialise the corpus gram-first index (ExactSubstr span dedup,
    incremental form) next to the exact/band/chunk/line tables; returns
    the distinct-gram count. ``min_tokens``/``max_doc_tokens`` must match
    the clean-side call — they define gram boundaries and key packing.

    **Id-monotonicity contract** (ADVICE r6 #3): batch doc ids must be
    strictly greater than every id already indexed — the occurrence key
    is ``id * max_doc_tokens + pos``, so a batch doc REUSING an indexed
    id would compare equal-or-earlier and silently win/keep spans the
    corpus already contains. Build/append record ``max(id)`` in a
    ``grams_meta`` side table and ``clean_against_gram_index`` enforces
    the contract loudly (``validate_ids``).

    ``memory_guard`` (default on, r12 verdict #2 — this build was the
    one remaining hard-OOM path): sizes the build at PLAN time against
    the executor heap (``memguard.gram_build_passes``, calibrated on
    the 2 GiB sf10-docs cell). Over the single-pass budget, the build
    DEGRADES to sequential id-range slices — slice 0 bootstraps, later
    slices run :func:`append_to_gram_index` — which the read side's
    per-gram ``min`` combine makes bit-identical to the one-shot build
    (the exact convergence contract appends already rely on); past the
    64-pass bound, or when the per-core overhead alone exceeds the
    heap, it raises ``CurationMemoryError`` naming the invariant
    instead of letting the JVM die mid-write. ``passes`` forces the
    slice count (testing/benches); slicing needs a numeric ``id_col``
    (quantile cuts) — non-numeric ids fall back to single-pass with a
    RuntimeWarning."""
    spark = docs.sparkSession
    if passes is None:
        passes = 1
        from .memguard import incremental_span_floor_decidable

        if memory_guard and incremental_span_floor_decidable(spark):
            from .memguard import gram_build_passes

            text_bytes = docs.agg(
                F.sum(F.octet_length(F.col(text_col)))
            ).collect()[0][0]
            passes, floor_msg = gram_build_passes(spark, text_bytes)
            if floor_msg is not None:
                from ..plans.curation import CurationMemoryError

                raise CurationMemoryError(floor_msg)
    if passes > 1:
        numeric = dict(docs.dtypes).get(id_col) in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
        )
        if not numeric:
            import warnings

            warnings.warn(
                f"gram-index build wants {passes} id-range passes but "
                f"{id_col!r} is not numeric — falling back to the "
                "single-pass build (expect heap pressure)",
                RuntimeWarning,
                stacklevel=2,
            )
        else:
            return _build_gram_index_chunked(
                docs, path, id_col, text_col, min_tokens, max_doc_tokens,
                passes,
            )
    gp = os.path.join(path, "grams")
    _gram_first_table(
        docs, id_col, text_col, min_tokens, max_doc_tokens
    ).write.mode("overwrite").parquet(gp)
    _meta_row(docs, id_col, text_col, "build").write.mode("overwrite").parquet(
        os.path.join(path, "grams_meta")
    )
    return spark.read.parquet(gp).count()


def _build_gram_index_chunked(
    docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    min_tokens: int,
    max_doc_tokens: int,
    passes: int,
) -> int:
    """Memory-derated corpus build: ``passes`` sequential id-range
    slices (approx-quantile cuts, strictly increasing, so the appends
    honour the id-monotonicity contract by construction). Slice 0 is a
    plain bootstrap build; each later slice appends — and since the
    gram read path ``min``-combines across appended files, the final
    index DECIDES identically to a one-shot build (the same convergence
    contract streaming appends rely on; equality pinned in
    tests/test_curation.py). Returns the distinct-gram count (appends
    may duplicate a gram across files, so a bare row count would
    over-report vs the one-shot build)."""
    qs = [i / passes for i in range(1, passes)]
    cuts = sorted({
        int(c) for c in docs.stat.approxQuantile(id_col, qs, 0.001)
    })
    bounds = [None, *cuts, None]
    first = True
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        cond = []
        if lo is not None:
            cond.append(F.col(id_col) >= F.lit(lo))
        if hi is not None:
            cond.append(F.col(id_col) < F.lit(hi))
        part = docs
        for c in cond:
            part = part.where(c)
        if part.limit(1).count() == 0:
            continue  # approx cuts can produce an empty edge slice
        if first:
            _gram_first_table(
                part, id_col, text_col, min_tokens, max_doc_tokens
            ).write.mode("overwrite").parquet(os.path.join(path, "grams"))
            _meta_row(part, id_col, text_col, "build").write.mode(
                "overwrite"
            ).parquet(os.path.join(path, "grams_meta"))
            first = False
        else:
            append_to_gram_index(
                part, path, id_col, text_col,
                min_tokens=min_tokens, max_doc_tokens=max_doc_tokens,
            )
    return (
        docs.sparkSession.read.parquet(os.path.join(path, "grams"))
        .select("gram_hash")
        .distinct()
        .count()
    )


def _validate_gram_ids(
    spark: SparkSession, new_docs: DataFrame, id_col: str, text_col: str, meta
) -> None:
    """The id-monotonicity check (see :func:`clean_against_gram_index`
    for the contract): ``meta`` is a list of (min, max, kind,
    fingerprint) rows. The replay carve-out requires the batch content
    fingerprint to MATCH the recorded append's when one was recorded —
    an exact-range id reuse with different documents is rejected, not
    mistaken for an at-least-once retry (ADVICE r7 #1). Rows from a
    pre-fingerprint meta layout carry ``None`` and keep the lenient
    range-only carve-out."""
    meta = [(lo, hi, k, fp) for (lo, hi, k, fp) in meta if hi is not None]
    if not meta:
        return
    lo, hi, fp = new_docs.agg(
        F.min(F.col(id_col).cast("long")),
        F.max(F.col(id_col).cast("long")),
        F.bit_xor(F.xxhash64(F.col(id_col).cast("long"), F.col(text_col))),
    ).collect()[0]
    others = [
        (m_lo, m_hi)
        for (m_lo, m_hi, m_kind, m_fp) in meta
        if not (
            m_kind == "append"
            and (m_lo, m_hi) == (lo, hi)
            and (m_fp is None or m_fp == fp)
        )
    ]
    indexed_max = max((m[1] for m in others), default=None)
    if lo is not None and indexed_max is not None and lo <= indexed_max:
        raise ValueError(
            "clean_against_gram_index id-monotonicity violation: "
            f"batch min {id_col}={lo} <= max indexed id {indexed_max}. "
            "Occurrence keys pack as id*max_doc_tokens+pos, so reused or "
            "lower batch ids silently mis-order span firsts; renumber the "
            "batch above the watermark (or pass validate_ids=False if id "
            "ranges are guaranteed disjoint out-of-band). An exact "
            "(min,max)-range replay of a prior append with matching "
            "content is allowed (foreachBatch retry)."
        )


def clean_against_gram_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_doc_tokens: int = 1 << 24,
    validate_ids: bool = True,
) -> DataFrame:
    """Incremental ExactSubstr span removal: a batch span whose gram
    already occurs in the established corpus (or earlier in the combined
    corpus+batch order) loses every batch occurrence — so a paragraph
    pasted from an indexed document is cut from a new document on
    arrival, and a batch against an EMPTY index reproduces
    ``dedup.substring_dedup`` exactly.

    **Id-monotonicity contract**: batch ids must be strictly greater than
    every indexed id (the packed ``id * max_doc_tokens + pos`` keys only
    order correctly then — an id REUSED from the corpus would tie its own
    indexed occurrences and silently keep known-duplicate spans, and a
    LOWER batch id would win firsts against the published corpus).
    ``validate_ids=True`` (default) checks the batch's min id against the
    index's ``grams_meta`` watermark and raises ``ValueError`` on
    violation; pass ``False`` only if the caller guarantees disjoint,
    increasing id ranges out-of-band.

    Output matches ``substring_dedup``. Scale shape: O(batch) — the
    batch's gram firsts left-join the index on the 16-byte hash
    (shuffle-hash; corpus text never read); per-append firsts combine via
    ``min``, which is order-independent, so append ordering never changes
    the decision. The operator receives the raw index scan and, past the
    broadcast threshold (:func:`memguard.index_past_broadcast`), prunes
    it by its own staged batch firsts before that min-combine.
    """
    gp = os.path.join(path, "grams")
    _refuse_layout_marker(gp)
    if validate_ids:
        meta_path = os.path.join(path, "grams_meta")
        try:
            mdf = spark.read.parquet(meta_path)
            # pre-r8 meta layout carried no kind tag; those rows were all
            # written by the same build/append code paths, so keep the old
            # (lenient) carve-out for them rather than rejecting retries of
            # an index built before the tag existed
            if "kind" not in mdf.columns:
                mdf = mdf.withColumn("kind", F.lit("append"))
            if "fingerprint" not in mdf.columns:
                mdf = mdf.withColumn("fingerprint", F.lit(None).cast("long"))
            meta = [
                (r["min_doc_id"], r["max_doc_id"], r["kind"], r["fingerprint"])
                for r in mdf.collect()
            ]
        except Exception:  # pre-watermark index layout: nothing to check
            meta = []
        # An APPEND whose (min, max) range equals this batch exactly is
        # this batch's own earlier append — foreachBatch is at-least-once,
        # and a re-delivered batch re-appends the same per-gram minima
        # (idempotent), so retries must pass. The carve-out applies to
        # append-tagged ranges ONLY, and only when the batch's content
        # fingerprint matches the recorded append's (ADVICE r7 #1): the
        # initial build range is not a retryable append, and an exact
        # append range carrying DIFFERENT documents is id reuse, not a
        # retry — both rejected like any other overlap.
        _validate_gram_ids(spark, new_docs, id_col, text_col, meta)
    return dedup_ops.substring_dedup(
        new_docs,
        id_col,
        text_col,
        min_tokens=min_tokens,
        max_doc_tokens=max_doc_tokens,
        index=spark.read.parquet(gp),
    )


def append_to_gram_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    max_doc_tokens: int = 1 << 24,
) -> None:
    """Append this batch's per-gram first keys. Reads aggregate ``min``
    across appended files, so appends in any order converge to the true
    corpus first occurrence; compact on the lake's schedule.

    Same id-monotonicity contract as :func:`build_gram_index`: this
    batch's ids must exceed every previously indexed id (checked on the
    clean side); the ``grams_meta`` max-id watermark is appended here so
    the contract stays enforceable across appends."""
    gp = os.path.join(path, "grams")
    with index_lease(gp, "append"):
        _refuse_layout_marker(gp)
        _gram_first_table(
            accepted_docs, id_col, text_col, min_tokens, max_doc_tokens
        ).write.mode("append").parquet(gp)
    # the meta watermark log has no dir-swap compactor, so no lease
    _meta_row(accepted_docs, id_col, text_col, "append").write.mode("append").parquet(
        os.path.join(path, "grams_meta")
    )


# ------------------------------------------------------------- compaction

def _require_local_path(path: str) -> None:
    """The plain-parquet compactors swap DIRECTORIES with local-filesystem
    renames; a scheme-qualified path (hdfs://, s3a://) would write its
    Spark temp dir fine and then die on ``os.rename``, killing a stream
    mid-compaction. Refuse up front with the alternative named."""
    if "://" in path:
        raise NotImplementedError(
            f"compact_*_index swaps directories with local-fs renames; "
            f"{path!r} is not a local path. On a cluster store, run the "
            "equivalent rewrite through the lake's table format (Delta "
            "OPTIMIZE / Iceberg rewrite_data_files)."
        )


class IndexLockError(RuntimeError):
    """An index-table lease is held by another live process."""


#: This process's hostname, stamped into lease payloads so waiters on a
#: SHARED filesystem can tell a foreign-host holder (whose pid they
#: cannot liveness-probe) from a local one (ADVICE r14).
_HOSTNAME = socket.gethostname()


#: Default seconds a lease acquisition polls before failing loudly.
#: Appends ride out a long compaction; compactors ride out short appends.
_LEASE_WAIT_S = 60.0

#: Seconds a CONTENTLESS lock file must persist before it is treated as
#: crash debris and reclaimed (a live writer links payload atomically,
#: so a lock that stays empty has no holder to liveness-check).
_LEASE_UNREADABLE_GRACE_S = 5.0

#: Seconds a reclaim-by-rename waits before re-reading the lock to
#: confirm the rename was not itself clobbered by a second reclaimer
#: (see the reclaim block in :func:`index_lease`). Sized well above
#: plausible driver pause times (GC, CPU oversubscription routinely
#: stall a thread 50-200ms): a competitor suspended between ITS stale
#: re-read and ITS rename can only clobber a confirmed waiter if its
#: stall exceeds this settle. Reclaim is a rare crash-recovery path,
#: so the latency is cheap (ADVICE r11 #1).
_RECLAIM_SETTLE_S = 0.75

#: Second, shorter confirmation interval: after the settle read-back
#: says the lease is ours, wait this long and read ONCE more before
#: treating the lease as held — a belt-and-braces re-verification
#: immediately before the caller's first destructive action.
_RECLAIM_CONFIRM_S = 0.25

#: Per-acquisition sequence — with the thread id, makes every lease
#: attempt's payload temp file (and payload nonce) unique, so two
#: threads of one process can never share a temp path (ADVICE r10 #3).
_LEASE_SEQ = itertools.count()

#: Re-entrancy registry: lease paths held by the CURRENT thread.
#: ``index_lease`` yields without re-acquiring when the same thread
#: already holds the path, so a composite operation (streaming batch:
#: heal -> read/clean -> append) can hold the table's lease across its
#: whole span while the append inside it takes the lease as usual.
_LEASE_HELD = threading.local()


@contextlib.contextmanager
def index_lease(path: str, role: str, wait_s: float | None = None):
    """Exclusive lock-file lease over one index table dir (``path``).

    This is the STRUCTURAL exclusion the r8/r9 best-effort guards
    (in-progress ``_temporary`` dirs, byte-growth snapshots) could not
    provide: both writers take it — appends (``append_to_*_index``) and
    compactors (``compact_*_index``) — so ``compact_dedup_indexes``
    racing a live stream now fails loudly at acquisition instead of
    silently deleting a concurrently appended part file with the old
    dir. The lock is ``<path>.lock``, created with O_CREAT|O_EXCL
    (atomic on a local filesystem — the only store the dir-swap
    compactors support, see :func:`_require_local_path`) and carrying
    ``{pid, role, ts}`` for diagnostics.

    Acquisition polls up to ``wait_s`` (appends ride out a long
    compaction; compactors ride out short appends), reclaiming a lease
    whose holder pid is dead (crash between acquire and release — the
    data itself is crash-safe via :func:`recover_interrupted_compaction`,
    the lock must not wedge the table forever). Non-local paths
    (``://``) no-op: the directory-swap compactors are local-only, so
    there is no swap to exclude there.

    Re-entrant WITHIN a thread: a composite holder (the streaming
    batch's heal -> clean -> append span) keeps the lease while the
    appends inside it take it again as no-ops; two THREADS of one
    process still exclude each other.
    """
    if "://" in path:
        yield
        return
    held = getattr(_LEASE_HELD, "paths", None)
    if held is None:
        held = _LEASE_HELD.paths = set()
    key = os.path.abspath(path)
    if key in held:  # re-entrant within one thread (composite ops)
        yield
        return
    if wait_s is None:
        wait_s = _LEASE_WAIT_S
    lock = path + ".lock"
    os.makedirs(os.path.dirname(os.path.abspath(lock)), exist_ok=True)
    deadline = time.monotonic() + wait_s
    # the payload is linked into place ATOMICALLY (write a private temp
    # file, hard-link it to the lock path): a holder killed between an
    # O_EXCL create and its payload write would leave a contentless lock
    # no liveness check can ever clear (review finding 5). With link(),
    # a visible lock always carries its holder. Pre-existing contentless
    # locks (older layouts, exotic filesystems) are reclaimed after a
    # grace period instead of wedging the table forever.
    seq = next(_LEASE_SEQ)
    payload = json.dumps(
        {
            "pid": os.getpid(),
            # pid liveness (os.kill(pid, 0)) is HOST-LOCAL: on a shared
            # filesystem a waiter on another machine cannot probe this
            # holder. The hostname in the payload lets a foreign-host
            # waiter recognise that and stay conservative (never
            # reclaim) instead of misreading ESRCH as a dead holder
            # (ADVICE r14)
            "host": _HOSTNAME,
            "role": role,
            "ts": time.time(),
            # thread id + sequence: distinguishes two acquisitions from
            # the same pid (the settle re-read below compares payloads)
            "nonce": f"{threading.get_ident()}-{seq}",
        }
    ).encode()
    # temp path unique per ACQUISITION, not per process: two threads of
    # one process (append + compaction hook racing in a driver) must
    # never share it — one thread's finally-unlink would remove it
    # between the other's write and os.link (ADVICE r10 #3)
    tmpf = f"{lock}.{os.getpid()}.{threading.get_ident()}.{seq}.tmp"
    with open(tmpf, "wb") as fh:
        fh.write(payload)
    unreadable_since: float | None = None
    acquired = False
    try:
        while True:
            try:
                os.link(tmpf, lock)
                acquired = True
                break
            except FileExistsError:
                pass
            holder: dict = {}
            readable = False
            try:
                with open(lock) as fh:
                    holder = json.load(fh)
                readable = True
            except OSError:
                continue  # released between link and read; retry now
            except ValueError:
                pass  # contentless/corrupt lock — grace-period below
            pid = holder.get("pid")
            alive = True
            if readable and pid is not None:
                unreadable_since = None
                lock_host = holder.get("host")
                if lock_host is not None and lock_host != _HOSTNAME:
                    # foreign-host holder on a shared filesystem: its
                    # pid cannot be probed from here — NEVER reclaim,
                    # ride the wait and fail loudly instead (ADVICE
                    # r14; the timeout message names the host)
                    alive = True
                else:
                    try:
                        os.kill(int(pid), 0)
                    except (ProcessLookupError, ValueError):
                        alive = False  # dead or malformed pid — stale
                    except OSError:
                        alive = True  # EPERM: holder exists, not ours
            else:  # contentless or pid-less lock
                now = time.monotonic()
                if unreadable_since is None:
                    unreadable_since = now
                # a real writer links payload atomically, so a lock that
                # STAYS contentless was left by a crash — reclaimable
                alive = now - unreadable_since < _LEASE_UNREADABLE_GRACE_S
            if not alive:
                # holder died without releasing — reclaim by RENAMING
                # our payload temp over the stale lock: reclaim and
                # acquisition are ONE atomic step (ADVICE r10 #2 — the
                # old read->unlink->link let a second waiter unlink the
                # first's freshly re-acquired lease). Re-read just
                # before the rename; a competitor stalled between ITS
                # dead-holder re-read and ITS rename can still clobber
                # ours, so after the rename we settle briefly and read
                # the lock back: only the waiter whose payload survives
                # holds the lease, a clobbered waiter re-enters the
                # poll. The residual window is a competitor suspended
                # longer than the settle between two ADJACENT syscalls
                # (POSIX offers no compare-and-swap rename to close it
                # fully).
                still: dict | None = {}
                try:
                    with open(lock) as fh:
                        still = json.load(fh)
                except OSError:
                    continue  # gone — poll again
                except ValueError:
                    still = None  # still contentless
                if (still is None and not readable) or (
                    still is not None and still.get("pid") == pid
                ):
                    try:
                        os.rename(tmpf, lock)
                    except OSError:
                        continue
                    # two-stage confirmation: the long settle outlasts
                    # plausible competitor pauses, the short second read
                    # re-verifies the payload immediately before the
                    # caller's critical section (ADVICE r11 #1)
                    mine = True
                    for pause in (_RECLAIM_SETTLE_S, _RECLAIM_CONFIRM_S):
                        time.sleep(pause)
                        try:
                            with open(lock, "rb") as fh:
                                mine = fh.read() == payload
                        except OSError:
                            mine = False
                        if not mine:
                            break
                    if mine:
                        acquired = True
                        break
                    # clobbered by a concurrent reclaimer — the rename
                    # consumed our temp file; recreate it and re-poll
                    with open(tmpf, "wb") as fh:
                        fh.write(payload)
                    unreadable_since = None
                continue
            if time.monotonic() >= deadline:
                foreign = (
                    holder.get("host") not in (None, _HOSTNAME)
                    if holder
                    else False
                )
                raise IndexLockError(
                    f"index lease {lock!r} held by {holder or 'unknown'} "
                    f"(waited {wait_s:.0f}s). A compaction and a writer "
                    "cannot touch the same index table concurrently — "
                    "stop one, or remove the lock file if its holder is "
                    "known dead."
                    + (
                        f" The holder is on host {holder.get('host')!r} "
                        "(liveness cannot be probed from here — verify "
                        "on that machine before removing)."
                        if foreign
                        else ""
                    )
                ) from None
            time.sleep(0.1)
        held.add(key)
        try:
            yield
        finally:
            held.discard(key)
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmpf)
        if acquired:  # never remove a FOREIGN holder's lock on failure
            with contextlib.suppress(OSError):
                os.unlink(lock)


def recover_interrupted_compaction(path: str) -> bool:
    """Heal a compaction swap that died at ANY point — called at the
    start of every compaction and by the streaming sink before the
    index-existence check. Without it, a crash in the swap window would
    make the next batch see NO index and silently reset dedup state;
    worse (r10 review finding 1), an APPEND landing after the crash
    recreates the live dir, so a naive "restore only if missing" heal
    would leave the ``.compact-old`` survivor to be rmtree'd later —
    permanent silent loss of the pre-compaction rows.

    The swap protocol is: write tmp -> rename(live, old) -> rename(tmp,
    live) -> rmtree(old). The crash state is therefore decidable from
    which scratch dirs exist:

    - ``old`` and ``tmp`` both exist: died between the renames. The
      authoritative data is ``old``; the live dir, if present, holds
      only post-crash appends — restore ``old`` by renaming it back
      (live missing) or by MOVING its data files in (live recreated;
      union is decision-correct: every table's read-side aggregate —
      min / distinct / sum-over-disjoint-appends — treats the restored
      rows exactly as pre-compaction appends). ``tmp`` is discarded.
    - ``old`` exists, ``tmp`` missing: rename 2 completed (the live dir
      IS the compacted data); ``old`` is a stale pre-compaction copy —
      merging it would double-count a sum table — so it is deleted.
    - ``tmp`` exists alone: died before rename 1; live dir untouched —
      delete ``tmp``.

    Returns True if any state was healed."""
    old = path + ".compact-old"
    tmp = path + ".compact-tmp"
    has_old, has_tmp = os.path.isdir(old), os.path.isdir(tmp)
    if not has_old and not has_tmp:
        return False
    if has_old and has_tmp:
        # died between the renames: old is authoritative
        if not os.path.exists(path):
            os.rename(old, path)
        else:
            _merge_dir_files(old, path)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        return True
    if has_old:
        if not os.path.exists(path):
            # defensive: shouldn't be reachable (tmp missing means
            # rename 2 ran, which creates the live dir) — restore
            os.rename(old, path)
            return True
        shutil.rmtree(old, ignore_errors=True)  # stale post-swap copy
        return True
    shutil.rmtree(tmp, ignore_errors=True)  # died before rename 1
    return True


def _merge_dir_files(src: str, dst: str) -> None:
    """Move ``src``'s data files into ``dst`` under collision-proof
    names (crash-recovery merge of a swap survivor into a live dir that
    appends recreated)."""
    for f in os.listdir(src):
        if f.startswith("_") or f.endswith(".crc"):
            continue
        target = os.path.join(dst, f"restored-{f}")
        n = 0
        while os.path.exists(target):
            n += 1
            target = os.path.join(dst, f"restored-{n}-{f}")
        os.rename(os.path.join(src, f), target)


def _rewrite_parquet_dir(
    df: DataFrame,
    path: str,
    partitions: int,
    snapshot_bytes: int | None = None,
) -> None:
    """Replace ``path`` with the materialisation of ``df`` (which reads
    from ``path`` — Spark cannot overwrite a dir it is scanning, so the
    rewrite lands in a sibling temp dir first and the dirs swap after the
    write commits). Local-filesystem renames (``_require_local_path`` is
    checked by callers); on an object-store lake the same two steps are
    "write new version dir, flip the table manifest" (Delta/Iceberg give
    it to you as OPTIMIZE/rewrite_data_files — this is that operation for
    the plain-parquet index layout). Crash safety: the data always exists
    in ``path`` or ``path + '.compact-old'`` — a crash between the two
    renames is healed by :func:`recover_interrupted_compaction`, and the
    old dir is only deleted after the new dir is in place.

    EXCLUSIVE-ACCESS CONTRACT: the swap is atomic against readers, NOT
    against concurrent writers. Structural exclusion comes from
    :func:`index_lease` — every ``compact_*_index`` holds the table's
    lease across read→swap, and every ``append_to_*_index`` takes the
    same lease around its write, so the standalone compaction task vs a
    live stream is excluded at acquisition, not merely detected. Two
    in-process guards remain as a backstop against writers that bypass
    the lease (hand-rolled appends): an in-progress Spark ``_temporary``
    dir aborts the swap, and a byte-growth check against
    ``snapshot_bytes`` — captured by the CALLER before its
    ``spark.read.parquet`` pinned the file listing (ADVICE r9 #3), so
    an append landing between the read and the swap trips the guard
    instead of being silently deleted with the old dir. A write that
    both bypasses the lease and lands entirely after the final
    ``_dir_bytes`` walk is still lost — the lease is the contract, the
    guards are best-effort."""
    tmp = path + ".compact-tmp"
    old = path + ".compact-old"
    # the CALLER heals interrupted swaps BEFORE pinning its read of
    # ``path`` (recover_interrupted_compaction can merge a crash
    # survivor's files into the live dir — running that here, after the
    # caller's read pinned its file listing, would let this rewrite
    # silently drop the just-restored rows). Scratch dirs appearing at
    # this point mean a concurrent compactor — fail loudly.
    if os.path.isdir(tmp) or os.path.isdir(old):
        raise RuntimeError(
            f"compaction aborted: scratch dirs for {path!r} appeared after "
            "the caller's heal — a concurrent compaction holds this table? "
            "The lease should make this unreachable; investigate before "
            "re-running."
        )
    if os.path.isdir(os.path.join(path, "_temporary")):
        raise RuntimeError(
            f"compaction aborted: {path!r} has an in-progress write "
            "(_temporary dir present). compact_* requires exclusive "
            "access — stop the writer (or let its batch commit) first."
        )
    if snapshot_bytes is None:
        snapshot_bytes = _dir_bytes(path)
    df.repartition(max(1, partitions)).write.mode("overwrite").parquet(tmp)
    if _dir_bytes(path) != snapshot_bytes or os.path.isdir(
        os.path.join(path, "_temporary")
    ):
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction aborted: {path!r} changed while the compacted "
            "rewrite was being written (concurrent append). The live dir "
            "is untouched; re-run compaction with the writer stopped."
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    """Data bytes under a parquet dir (checksums and ``_``-prefixed
    markers excluded — the same files Spark's file index ignores)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.endswith(".crc") and not f.startswith("_")
        )
    return total


def _split_bytes(spark: SparkSession) -> int:
    """The session's file-split size (maxPartitionBytes), defaulting to
    128 MB when unreadable — the denominator every compaction output
    sizing divides by."""
    try:
        return max(
            1,
            int(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", str(128 << 20)
                )
            ),
        )
    except Exception:
        return 128 << 20


def _compact_partitions(
    spark: SparkSession, path: str, row_scale: float = 1.0
) -> int:
    """Output partition count for a compacted table: its on-disk bytes
    over the session's file-split size, floored at the session's core
    count. The floor matters: sizing by maxPartitionBytes alone wrote a
    214 MB index as 2 snappy files, and the per-batch min-combine scan
    then decoded 11M rows in 2 tasks — post-compaction batches measured
    ~50% SLOWER than the uncompacted 160-file layout (r8). Parquet byte
    ranges split across tasks, but decode parallelism follows row groups,
    so the file count must at least match the cores that will scan it.

    ``row_scale`` = rows_after / rows_before: the walk below sees the
    PRE-compaction bytes, and a heavily append-duplicated index shrinks
    by the dup factor — sizing from raw bytes alone fanned the output
    into ~dup-factor more, smaller files than the sub-MB-shard guard
    intends (ADVICE r8 #4). Callers that have counted the aggregated
    frame pass the ratio so the sizing model sees post-fold bytes."""
    total = int(_dir_bytes(path) * min(1.0, max(row_scale, 0.0)))
    split = _split_bytes(spark)
    return max(
        # decode-parallelism floor, but never fan a tiny index into
        # sub-MB shards just to hit the core count
        min(spark.sparkContext.defaultParallelism, total // (1 << 20) + 1),
        total // max(split, 1) + 1,
    )


def compact_gram_index(
    spark: SparkSession,
    path: str,
    wait_s: float | None = None,
) -> dict:
    """Rewrite the gram-first table keeping ``min(first_key)`` per gram —
    the same min-combine every read already applies, run once and made
    durable, so the per-batch O(index) scan stops paying for append
    duplication (a boilerplate gram appears in every append that saw it;
    after compaction it is one row). Readers are unaffected mid-stream:
    the min over the compacted rows equals the min over the raw appends
    (min is idempotent/associative), which is also why compacting between
    any two batches cannot change a later batch's clean decisions.

    The rewrite is whole-table: the min fold spans every file, so no
    file can be left in place as it stands. After the swap the
    table's byte size is recorded as its clean watermark
    (:func:`dirty_fraction`), which the span sink's scheduled hook reads
    to skip a rewrite until enough has been appended.

    ``grams_meta`` is left byte-identical: it is the append-watermark log
    the id-monotonicity retry carve-out matches against (one tiny row per
    append), and folding it would erase the replay evidence.

    Returns ``{rows_before, rows_after, files_before, files_after}``.
    """
    _require_local_path(path)
    gp = os.path.join(path, "grams")
    with index_lease(gp, "compact", wait_s=wait_s):
        recover_interrupted_compaction(gp)
        _refuse_layout_marker(gp)
        # snapshot BEFORE the read pins its file listing, so an append
        # landing after the read trips the growth guard (ADVICE r9 #3)
        snapshot = _dir_bytes(gp)
        before = spark.read.parquet(gp)
        files_before = sum(
            1 for f in os.listdir(gp) if f.endswith(".parquet")
        )
        rows_before = before.count()
        agg = before.groupBy("gram_hash").agg(
            F.min("first_key").alias("first_key")
        )
        # count the FOLDED frame before the rewrite: it sizes the output
        # (bytes scale by the dedup ratio — ADVICE r8 #4) and it is the
        # rows_after the caller wants anyway, so no pass is added
        rows_after = agg.count()
        _rewrite_parquet_dir(
            agg, gp,
            _compact_partitions(spark, gp, rows_after / max(rows_before, 1)),
            snapshot_bytes=snapshot,
        )
        _write_compact_meta(gp)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": sum(1 for f in os.listdir(gp) if f.endswith(".parquet")),
    }


def compact_chunk_index(
    spark: SparkSession,
    path: str,
    wait_s: float | None = None,
) -> dict:
    """Rewrite the chunk-hash table to distinct hashes (appends are
    distinct within themselves only — `append_to_chunk_index`), bounding
    the re-read the per-batch join pays. Safe at any batch boundary:
    ``chunk_stats_against_index`` distincts the index before joining, so
    compaction changes bytes scanned, never results."""
    _require_local_path(path)
    cp = os.path.join(path, "chunks")
    with index_lease(cp, "compact", wait_s=wait_s):
        recover_interrupted_compaction(cp)
        _refuse_layout_marker(cp)
        snapshot = _dir_bytes(cp)
        before = spark.read.parquet(cp)
        rows_before = before.count()
        agg = before.distinct()
        rows_after = agg.count()
        _rewrite_parquet_dir(
            agg, cp,
            _compact_partitions(spark, cp, rows_after / max(rows_before, 1)),
            snapshot_bytes=snapshot,
        )
    return {"rows_before": rows_before, "rows_after": rows_after}


def compact_line_index(
    spark: SparkSession,
    path: str,
    wait_s: float | None = None,
) -> dict:
    """Rewrite the line-count table summing ``n_docs`` per hash — the
    same sum ``clean_against_line_index`` applies on read (counts add
    across doc-disjoint appends), made durable once."""
    _require_local_path(path)
    lp = os.path.join(path, "lines")
    with index_lease(lp, "compact", wait_s=wait_s):
        recover_interrupted_compaction(lp)
        _refuse_layout_marker(lp)
        snapshot = _dir_bytes(lp)
        before = spark.read.parquet(lp)
        rows_before = before.count()
        agg = before.groupBy("line_hash").agg(
            F.sum("n_docs").alias("n_docs")
        )
        rows_after = agg.count()
        _rewrite_parquet_dir(
            agg, lp,
            _compact_partitions(spark, lp, rows_after / max(rows_before, 1)),
            snapshot_bytes=snapshot,
        )
    return {"rows_before": rows_before, "rows_after": rows_after}


def compact_match_index(
    spark: SparkSession,
    path: str,
    wait_s: float | None = None,
) -> dict:
    """Rewrite the match index's exact and bands tables into few, full
    files (r14 verdict #1 / BLOOM_r15): unlike grams/chunks/lines there
    is NO aggregation to canonicalise — rows are already unique (doc-
    disjoint appends of per-doc exact rows and per-doc band rows) — the
    compaction exists purely to undo per-micro-batch FILE EXPLOSION.
    The sweep measured the cost of skipping it: at 1000-doc batches
    every append lands a file set per leg, and after 100 batches the
    per-batch classifier scan pays thousands of file opens — the
    steady-state wall grows with batch COUNT, not data. Identity
    rewrite, so decisions are trivially preserved.

    LEASE PROTOCOL: the whole two-leg compaction holds the EXACT leg's
    lease — the same single lease ``match_dedup_batch`` holds across
    its whole heal->classify->append span. Per-leg leases would leave
    a hole: a live batch holds only the exact lease, so a bands-only
    compactor could rewrite the bands dir out from under the batch's
    in-flight bands append, silently deleting it with the old dir."""
    import pyarrow.parquet as pq

    _require_local_path(path)
    out: dict = {}
    with index_lease(os.path.join(path, "exact"), "compact", wait_s=wait_s):
        for leg in ("exact", "bands"):
            lp = os.path.join(path, leg)
            recover_interrupted_compaction(lp)
            if not os.path.isdir(lp):
                continue
            snapshot = _dir_bytes(lp)
            files_before = sum(
                1 for f in os.listdir(lp) if f.endswith(".parquet")
            )
            _rewrite_parquet_dir(
                spark.read.parquet(lp), lp,
                _compact_partitions(spark, lp, 1.0),
                snapshot_bytes=snapshot,
            )
            # rows and files of what the rewrite wrote, from the parquet
            # footers: no count job, and it checks the output, not the input
            written = [f for f in os.listdir(lp) if f.endswith(".parquet")]
            out[leg] = {
                "rows": sum(
                    pq.read_metadata(os.path.join(lp, f)).num_rows
                    for f in written
                ),
                "files_before": files_before,
                "files_after": len(written),
            }
    return out
