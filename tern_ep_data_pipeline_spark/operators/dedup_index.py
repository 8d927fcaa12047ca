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

Every table is a set of immutable parquet files listed by the root's
numbered manifests (:mod:`index_log`): a reader needs no catalog entry,
so an index survives a session restart as its files. Every build,
append and compaction is one commit that creates the next manifest,
with no rename, on a local disk or an object store alike; once a
batch's index scan would pass the broadcast threshold, the match
classifier semi-joins the index by the batch's own keys so only
O(batch) rows shuffle (see :func:`_match_frames`).
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bloom as bloom_ops
from . import dedup as dedup_ops
from . import index_log
from .memguard import index_past_broadcast, plan_size_estimate


def _commit_writes(
    path: str, frames: dict[str, DataFrame], op: str = "append"
) -> index_log.Snapshot:
    """Write each ``table -> frame`` and commit them as one version of
    ``path``. The writes depend on nothing the index holds, so the commit
    is blind: it lands on whatever version is newest. The root's layout
    is checked before anything is written."""
    spark = next(iter(frames.values())).sparkSession
    index_log.snapshot(spark, path)
    adds = [index_log.write(df, path, table) for table, df in frames.items()]
    return index_log.commit(spark, path, None, adds, op=op)


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
    """Materialise the index for an (already deduplicated) corpus: both
    tables replace what the root held, in one commit."""
    snap = _commit_writes(
        path,
        _match_tables(docs, id_col, text_col, n, num_hashes, bands, hash_mode),
        op="overwrite",
    )
    return {"exact_rows": snap.rows("exact"), "band_rows": snap.rows("bands")}


def _match_tables(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    hash_mode: str,
) -> dict[str, DataFrame]:
    """The two tables' rows of ``docs``."""
    return {
        "exact": _exact_table(docs, id_col, text_col),
        "bands": _band_table(docs, id_col, text_col, n, num_hashes, bands, hash_mode),
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
    snap = index_log.snapshot(spark, path)
    return _match_frames(
        *_batch_frames(
            new_docs, id_col, text_col, n, num_hashes, bands, hash_mode
        ),
        index_log.scan(spark, path, "exact", snap),
        index_log.scan(spark, path, "bands", snap),
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
    two frames of :func:`_batch_frames`, the index as its two table
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


def append_exact_to_index(
    accepted_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """The exact-table leg of :func:`append_to_index` alone, as its own
    commit."""
    _commit_writes(path, {"exact": _exact_table(accepted_docs, id_col, text_col)})


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
    """The bands-table leg of :func:`append_to_index` alone, as its own
    commit."""
    _commit_writes(
        path,
        {"bands": _band_table(
            accepted_docs, id_col, text_col, n, num_hashes, bands, hash_mode
        )},
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
    """Append accepted (fresh) docs' rows so later batches see them:
    both tables in one commit, so no reader sees one without the other."""
    _commit_writes(path, _match_tables(
        accepted_docs, id_col, text_col, n, num_hashes, bands, hash_mode
    ))


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
    snap = _commit_writes(
        path,
        {"chunks": _chunk_table(docs, id_col, text_col, chunk_tokens)},
        op="overwrite",
    )
    return snap.rows("chunks")


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
    raw = index_log.scan(spark, path, "chunks").select(
        F.col("chunk_hash").alias("__h")
    )
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
    # distinct BEFORE the left join: the index accumulates appends
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
    (:func:`compact_chunk_index` on the lake's schedule bounds re-reads)."""
    _commit_writes(
        path,
        {"chunks": _chunk_table(accepted_docs, id_col, text_col, chunk_tokens)},
    )


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
    snap = _commit_writes(
        path,
        {"lines": _line_count_table(
            docs, id_col, text_col, delimiter, min_line_chars
        )},
        op="overwrite",
    )
    return snap.rows("lines")


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
    scan = index_log.scan(spark, path, "lines").select("line_hash", "n_docs")
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
    :func:`compact_line_index` on the lake's schedule bounds re-reads."""
    _commit_writes(
        path,
        {"lines": _line_count_table(
            accepted_docs, id_col, text_col, delimiter, min_line_chars
        )},
    )


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


def dirty_fraction(spark: SparkSession, path: str, table: str) -> float:
    """The fraction of ``table``'s live bytes that no compaction wrote
    (1.0 when never compacted), from the newest manifest."""
    files = index_log.snapshot(spark, path).files(table)
    total = sum(f["bytes"] for f in files)
    dirty = sum(f["bytes"] for f in files if not f["compacted"])
    return dirty / total if total else 0.0


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
    return _commit_writes(
        path,
        _gram_tables(docs, id_col, text_col, min_tokens, max_doc_tokens, "build"),
        op="overwrite",
    ).rows("grams")


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
            _commit_writes(
                path,
                _gram_tables(
                    part, id_col, text_col, min_tokens, max_doc_tokens, "build"
                ),
                op="overwrite",
            )
            first = False
        else:
            append_to_gram_index(
                part, path, id_col, text_col,
                min_tokens=min_tokens, max_doc_tokens=max_doc_tokens,
            )
    return (
        index_log.scan(docs.sparkSession, path, "grams")
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
    fingerprint to MATCH the recorded append's — an exact-range id reuse
    with different documents is rejected, not mistaken for an
    at-least-once retry (ADVICE r7 #1)."""
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
            m_kind == "append" and (m_lo, m_hi) == (lo, hi) and m_fp == fp
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
    snap = index_log.snapshot(spark, path)
    grams = index_log.scan(spark, path, "grams", snap)
    if validate_ids:
        meta = [
            (r["min_doc_id"], r["max_doc_id"], r["kind"], r["fingerprint"])
            for r in index_log.scan(spark, path, "grams_meta", snap).collect()
        ]
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
        index=grams,
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
    clean side); the ``grams_meta`` max-id watermark row lands in the
    same commit, so the contract stays enforceable across appends."""
    _commit_writes(path, _gram_tables(
        accepted_docs, id_col, text_col, min_tokens, max_doc_tokens, "append"
    ))


def _gram_tables(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    max_doc_tokens: int,
    kind: str,
) -> dict[str, DataFrame]:
    """The two tables a gram build or append writes: the docs' per-gram
    first keys and their watermark row (``kind`` ``build``/``append``)."""
    return {
        "grams": _gram_first_table(
            docs, id_col, text_col, min_tokens, max_doc_tokens
        ),
        "grams_meta": _meta_row(docs, id_col, text_col, kind),
    }


# ------------------------------------------------------------- compaction

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
    spark: SparkSession, total_bytes: int, row_scale: float = 1.0
) -> int:
    """Output partition count for a compacted table: its live bytes (from
    the manifest) over the session's file-split size, floored at the
    session's core count. The floor matters: sizing by maxPartitionBytes
    alone wrote a 214 MB index as 2 snappy files, and the per-batch
    min-combine scan then decoded 11M rows in 2 tasks — post-compaction
    batches measured ~50% SLOWER than the uncompacted 160-file layout
    (r8). Parquet byte ranges split across tasks, but decode parallelism
    follows row groups, so the file count must at least match the cores
    that will scan it.

    ``row_scale`` = rows_after / rows_before: ``total_bytes`` are the
    PRE-compaction bytes, and a heavily append-duplicated index shrinks
    by the dup factor — sizing from raw bytes alone fanned the output
    into ~dup-factor more, smaller files than the sub-MB-shard guard
    intends (ADVICE r8 #4). Callers that have counted the aggregated
    frame pass the ratio so the sizing model sees post-fold bytes."""
    total = int(total_bytes * min(1.0, max(row_scale, 0.0)))
    split = _split_bytes(spark)
    return max(
        # decode-parallelism floor, but never fan a tiny index into
        # sub-MB shards just to hit the core count
        min(spark.sparkContext.defaultParallelism, total // (1 << 20) + 1),
        total // max(split, 1) + 1,
    )


def _compact_whole(spark: SparkSession, path: str, table: str, fold) -> dict:
    """Replace every live file of ``table`` with ``fold`` of their rows
    (the aggregate every read of the table already applies), as one
    compaction commit, then sweep the root. The fold spans every file, so
    no file can stay as it stands. An append that commits while this
    runs stays live beside the folded files: the commit rebases onto it.

    Returns ``{rows_before, rows_after, files_before, files_after}``."""

    def attempt(snap: index_log.Snapshot):
        files = snap.files(table)
        agg = fold(index_log.scan(spark, path, table, snap))
        # count the FOLDED frame before the rewrite: it sizes the output
        # (bytes scale by the dedup ratio — ADVICE r8 #4) and it is the
        # rows_after the caller wants anyway
        rows_after = agg.count()
        parts = _compact_partitions(
            spark, snap.bytes(table), rows_after / max(snap.rows(table), 1)
        )
        added = index_log.write(
            agg.repartition(parts), path, table, compacted=True
        )
        stats = {
            "rows_before": snap.rows(table),
            "rows_after": rows_after,
            "files_before": len(files),
        }
        return [added], [f["path"] for f in files], "compact", stats

    stats, snap = index_log.transact(spark, path, attempt)
    stats["files_after"] = len(snap.files(table))
    index_log.sweep(spark, path)
    return stats


def compact_gram_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the gram-first table keeping ``min(first_key)`` per gram —
    the same min-combine every read already applies, run once and made
    durable, so the per-batch O(index) scan stops paying for append
    duplication (a boilerplate gram appears in every append that saw it;
    after compaction it is one row). Readers are unaffected mid-stream:
    the min over the compacted rows equals the min over the raw appends
    (min is idempotent/associative), which is also why compacting between
    any two batches cannot change a later batch's clean decisions.

    The compacted files are marked as such in the manifest, which
    :func:`dirty_fraction` reads so the span sink's scheduled hook can
    skip a rewrite until enough has been appended.

    ``grams_meta`` is left as it is: it is the append-watermark log the
    id-monotonicity retry carve-out matches against (one tiny row per
    append), and folding it would erase the replay evidence.

    Returns ``{rows_before, rows_after, files_before, files_after}``.
    """
    return _compact_whole(
        spark, path, "grams",
        lambda df: df.groupBy("gram_hash").agg(
            F.min("first_key").alias("first_key")
        ),
    )


def compact_chunk_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the chunk-hash table to distinct hashes (appends are
    distinct within themselves only — `append_to_chunk_index`), bounding
    the re-read the per-batch join pays. Safe at any batch boundary:
    ``chunk_stats_against_index`` distincts the index before joining, so
    compaction changes bytes scanned, never results."""
    return _compact_whole(spark, path, "chunks", DataFrame.distinct)


def compact_line_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the line-count table summing ``n_docs`` per hash — the
    same sum ``clean_against_line_index`` applies on read (counts add
    across doc-disjoint appends), made durable once."""
    return _compact_whole(
        spark, path, "lines",
        lambda df: df.groupBy("line_hash").agg(F.sum("n_docs").alias("n_docs")),
    )


def compact_match_index(spark: SparkSession, path: str) -> dict:
    """Bin-pack the match index's exact and bands tables (r14 verdict
    #1 / BLOOM_r15): at 1000-doc batches every append lands a file set
    per table, and after 100 batches the per-batch classifier scan paid
    thousands of file opens — the steady-state wall grew with batch
    COUNT, not data. Unlike grams/chunks/lines there is no aggregation
    to canonicalise (rows are unique per doc), so the compaction only
    merges files: those below half the session's split size are read
    and rewritten into files of about one split each, and one commit
    removes them and adds the merged ones. Full files stay where they
    are, so the bytes one compaction writes are bounded by the files
    appended since the last one plus at most one half-full file, not by
    the index. The row multiset never changes, so a batch that read the
    index before this commit rebases onto it without reclassifying.

    Returns per table ``{rows, files_before, files_after}``: the live
    rows and files after the commit, from the manifest."""
    target = _split_bytes(spark)

    def attempt(snap: index_log.Snapshot):
        adds, removes, stats = [], [], {}
        for leg in ("exact", "bands"):
            if not snap.has(leg):
                continue
            files = snap.files(leg)
            stats[leg] = {"files_before": len(files)}
            small = [f for f in files if f["bytes"] < target // 2]
            if len(small) < 2:
                continue
            parts = max(1, sum(f["bytes"] for f in small) // target)
            merged = index_log.scan_files(spark, snap, leg, small)
            adds.append(index_log.write(
                merged.repartition(parts), path, leg, compacted=True
            ))
            removes += [f["path"] for f in small]
        return adds, removes, "compact", stats

    stats, snap = index_log.transact(spark, path, attempt)
    for leg, leg_stats in stats.items():
        leg_stats["rows"] = snap.rows(leg)
        leg_stats["files_after"] = len(snap.files(leg))
    index_log.sweep(spark, path)
    return stats
