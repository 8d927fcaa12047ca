"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Beyond-reference operators for the large-scale training-data pipeline
(driver mandate). Design point is 100 TB:

- exact: hash-groupBy on normalised content — one shuffle on a 16-byte key.
- n-gram Jaccard: exact pairwise similarity *within a blocking key* (caller
  chooses, e.g. language or LSH bucket) — never an unblocked cross join.
- MinHash+LSH: shingle -> K minhashes -> B bands -> bucket self-join.
  Signatures are computed with built-in ``xxhash64``/array expressions
  (JVM-side, no Python), so the only shuffles are the band-bucket
  self-join and the final pair dedup.
- SimHash: 64-bit sign-sum fingerprint. Fast mode is a zero-shuffle numpy
  Arrow kernel (one mapInPandas pass); portable mode is the expression
  form (explode + packed conditional sums) an external oracle can verify.

All hashes are deterministic (seeded by literal), so results are stable
under retries and across cluster sizes.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Persisted intermediates (shingle tables, signatures, fingerprints) per
# Spark application, so long-lived sessions can release them: every LSH-style
# self-join persists its staged frame (Catalyst does not reuse exchanges
# across aliased branches), and without an owner those caches accumulate
# until LRU eviction pressure. Pipelines call ``release_staged(spark)`` after
# their terminal action; one-shot processes can ignore it.
_STAGED: dict[str, list[DataFrame]] = {}

#: Cumulative Catalyst byte estimate of the MEMORY-level staged frames
#: per app — the running total ``memguard.staged_persist_decision``
#: sizes the next persist against (VERDICT r11 #3). Reset by
#: ``release_staged`` (the blocks are freed with it).
_STAGED_EST_BYTES: dict[str, int] = {}

#: Plan-time persist decisions per app, for artifacts/benches to record
#: (``stage_decisions``): [{seq, level, reason, est_bytes}]. Bounded —
#: a long-lived streaming driver stages frames every micro-batch and
#: must not leak a dict per call forever (review r12): past the cap the
#: oldest half is dropped; ``seq`` is monotone so windowed readers
#: (``stage_decisions(after_seq=...)``) are unaffected by trimming.
_STAGE_DECISIONS: dict[str, list[dict]] = {}
_STAGE_DECISIONS_CAP = 4096
_STAGE_SEQ = itertools.count(1)


def _stage(df: DataFrame) -> DataFrame:
    """Persist a self-join input and register it for later release.

    The persist LEVEL is a plan-time memguard decision
    (``memguard.staged_persist_decision``, VERDICT r11 #3): under a
    squeezed heap, or once the cumulative staged working set's byte
    estimate would exceed the staged-storage budget, the persist
    derates to DISK_ONLY — MEMORY_AND_DISK blocks pin the protected
    storage region and starve the execution pool under concurrent
    tasks (`UNABLE_TO_ACQUIRE_MEMORY ... got 0` in SPILL_r05's 2 g
    cells; 6.9 GB of runtime-discovered spill in SCALING.md r11's
    sf10/8g suite). Disk-only staged frames cost re-read IO but leave
    the whole unified pool to execution. Decisions are recorded for
    :func:`stage_decisions`.
    """
    from pyspark import StorageLevel

    from .memguard import staged_persist_decision

    spark = df.sparkSession
    app_id = spark.sparkContext.applicationId
    level, reason, est = staged_persist_decision(
        spark, df, _STAGED_EST_BYTES.get(app_id, 0)
    )
    if level == "disk":
        staged = df.persist(StorageLevel.DISK_ONLY)
    else:
        staged = df.persist()
        _STAGED_EST_BYTES[app_id] = _STAGED_EST_BYTES.get(app_id, 0) + est
    log = _STAGE_DECISIONS.setdefault(app_id, [])
    log.append(
        {
            "seq": next(_STAGE_SEQ),
            "level": level,
            "reason": reason,
            "est_bytes": est,
        }
    )
    if len(log) > _STAGE_DECISIONS_CAP:
        del log[: len(log) // 2]
    _STAGED.setdefault(app_id, []).append(staged)
    return staged


def stage_decisions(spark: SparkSession, after_seq: int = 0) -> list[dict]:
    """The plan-time persist decisions ``_stage`` made for this app
    (artifact/bench hook): [{seq, level, reason, est_bytes}], optionally
    only those with ``seq > after_seq`` (window reads survive the
    bounded log's trimming, unlike index slicing)."""
    log = _STAGE_DECISIONS.get(spark.sparkContext.applicationId, [])
    return [d for d in log if d["seq"] > after_seq]


def release_staged(spark: SparkSession) -> int:
    """Unpersist every staged frame this module cached for ``spark``.

    Safe at any time — an unpersisted frame is simply recomputed if a plan
    still references it. Returns the number of frames released.
    """
    app_id = spark.sparkContext.applicationId
    frames = _STAGED.pop(app_id, [])
    _STAGED_EST_BYTES.pop(app_id, None)  # the budgeted blocks are freed
    for key in [k for k in _MEMO if k[0] == app_id]:
        _MEMO.pop(key, None)
    for f in frames:
        try:
            f.unpersist()
        except Exception:
            pass
    return len(frames)


# Session-scoped reuse of the expensive dedup intermediates (the shingle
# fan-out and the K-wide signature aggregation): several queries in one
# session routinely hit the same corpus with the same parameters — e.g. a
# pair listing and the connected-components clustering built from it — and
# recomputing the shingle pass per query is the single largest avoidable
# cost. Keyed on the *semantic* plan hash, so any two reads of the same
# table reuse, while a changed input never false-hits. Cleared by
# ``release_staged``.
_MEMO: dict[tuple, DataFrame] = {}


def _plan_key(df: DataFrame):
    """Semantic identity of ``df``'s analyzed plan; falls back to a
    never-matching key (e.g. Spark Connect, streaming frames)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return object()


def _memo_stage(df: DataFrame, tag: str, params: tuple, builder) -> DataFrame:
    app_id = df.sparkSession.sparkContext.applicationId
    key = (app_id, tag, _plan_key(df), *params)
    hit = _MEMO.get(key)
    if hit is None:
        hit = _MEMO[key] = _stage(builder())
    return hit


# ---------------------------------------------------------------- exact

def normalise_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def ccnet_normalise(col: Column, strip_punct: bool = False) -> Column:
    """CCNet-style aggressive normalisation for dedup hashing (Wenzek et
    al. 2020 normalize_for_dedup): lowercase, every digit -> 0, whitespace
    collapsed; optionally strip ASCII punctuation. Near-identical lines
    differing only in dates/ids/counters ("posted 2024-01-07", "page 3 of
    912") then hash equal, which is most of what CCNet's paragraph dedup
    catches beyond exact matching.

    Pure JVM expressions (lower/translate/regexp_replace), so it rides in
    whole-stage codegen and any SQL oracle reproduces the hash. Unicode
    accent folding is deliberately NOT attempted here — it needs ICU
    semantics that differ between engines; run it upstream if required."""
    out = F.translate(F.lower(F.trim(col)), "0123456789", "0000000000")
    if strip_punct:
        out = F.regexp_replace(
            out, r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]""", ""
        )
    return F.regexp_replace(out, r"\s+", " ")


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str, normalise: bool = True
) -> DataFrame:
    """Exact duplicate groups: one row per distinct content with the
    canonical (min) id and the copy count."""
    content = normalise_text(F.col(text_col)) if normalise else F.col(text_col)
    return (
        df.select(F.col(id_col), F.md5(content).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one (min-id) row per distinct content."""
    groups = exact_dedup_groups(df, id_col, text_col)
    keep = groups.select(F.col("canonical_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ------------------------------------------------ sub-document chunks

def chunk_frame(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 10
) -> DataFrame:
    """``(__id, __pos, __chunk, __ctoks)``: non-overlapping windows of
    ``chunk_tokens`` whitespace tokens, tail remainder included as a final
    short chunk so every token belongs to exactly one chunk.

    Pure array expressions over a staged token column (same construction
    discipline as :func:`shingle_frame`); fanned out before the explode.
    """
    staged = _fanout(df, id_col).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t")
    )
    n_chunks = F.greatest(
        F.ceil(F.size("__t") / F.lit(chunk_tokens)).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    exploded = staged.select(
        "__id",
        F.size("__t").alias("__ntok"),
        F.explode(idx).alias("__pos"),
        F.col("__t"),
    )
    return exploded.select(
        "__id",
        "__pos",
        F.concat_ws(
            " ", F.slice("__t", F.col("__pos") * chunk_tokens + 1, chunk_tokens)
        ).alias("__chunk"),
        F.least(
            F.lit(chunk_tokens), F.col("__ntok") - F.col("__pos") * chunk_tokens
        ).alias("__ctoks"),
    )


def chunk_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 10,
    micro: bool = False,
) -> DataFrame:
    """Sub-document exact dedup at fixed token-window granularity — the
    corpus-level "remove repeated substrings" stage (Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*, ExactSubstr,
    here at chunk rather than suffix granularity so it stays one shuffle).

    An occurrence of a chunk is a DUPLICATE unless it is the globally first
    occurrence, where "first" is ``min(struct(doc_id, pos))`` — lexicographic
    on (id, pos), which any SQL oracle orders identically via
    ``min(id * 1e6 + pos)`` for integral ids with < 1e6 chunks per document,
    and which stays well-defined for string/UUID ids (a long cast of those
    would yield NULL and silently nullify every stat downstream).

    Output per document: ``n_chunks``, ``n_dup_chunks``, ``dup_chunk_frac``
    (rounded 6), and ``kept_tokens`` — tokens remaining if duplicate chunks
    were excised.

    Scale shape: two map-side-combinable aggregations and ONE doc-keyed
    join of per-document partials — the full chunk table is never joined
    back or persisted. ``groupBy(chunk_hash).min(struct(id, pos,
    ctoks))`` finds each chunk's global first occurrence (hot boilerplate
    chunks partial-aggregate before the shuffle; the first's token count
    rides in the struct, never reached as a tiebreak since (id, pos) is
    unique); re-keying the firsts by their owning document gives per-doc
    first counts + kept tokens, and a direct per-doc groupBy gives chunk
    totals — ``n_dup = n_chunks - n_firsts`` without re-shuffling the
    occurrence table (r8: this removes the second corpus-wide shuffle
    and the staged persist the join-back design paid). No self-join, no
    window over a hot key.
    """
    chunks = chunk_frame(df, id_col, text_col, chunk_tokens).select(
        "__id",
        "__ctoks",
        F.md5(F.col("__chunk")).alias("__h"),
        F.struct(
            F.col("__id").alias("i"),
            F.col("__pos").alias("p"),
            F.col("__ctoks").alias("t"),
        ).alias("__occ"),
    )
    totals = chunks.groupBy(F.col("__id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    firsts = (
        chunks.groupBy("__h")
        .agg(F.min("__occ").alias("__first"))
        .groupBy(F.col("__first.i").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("__n_first"),
            F.sum("__first.t").alias("kept_tokens"),
        )
    )
    # LEFT join + coalesce: a document none of whose chunks are global
    # firsts (every chunk seen earlier) has no firsts row
    out = totals.join(firsts, on=id_col, how="left").select(
        id_col,
        "n_chunks",
        F.coalesce(F.col("__n_first"), F.lit(0)).alias("__n_first"),
        F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
    )
    n_dup = (F.col("n_chunks") - F.col("__n_first")).alias("n_dup_chunks")
    if micro:
        from .text import micro_ratio

        frac = F.coalesce(
            micro_ratio(
                F.col("n_chunks") - F.col("__n_first"), F.col("n_chunks")
            ),
            F.lit(0).cast("bigint"),
        ).alias("dup_chunk_frac_micro")
    else:
        frac = F.round(
            (F.col("n_chunks") - F.col("__n_first")) / F.col("n_chunks"), 6
        ).alias("dup_chunk_frac")
    return out.select(id_col, "n_chunks", n_dup, frac, "kept_tokens")


def line_dedup_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_line_chars: int = 1,
    delimiter: str = "\n",
    index_counts: DataFrame | None = None,
    normalise: bool = False,
) -> DataFrame:
    """Corpus-level line deduplication — CCNet-style boilerplate removal
    (Wenzek et al. 2020, *CCNet*): a line (trimmed, exact match — or
    matched under :func:`ccnet_normalise` with ``normalise=True``, so
    "page 3 of 912" and "page 7 of 88" collapse) appearing
    in >= ``min_docs`` DISTINCT documents is boilerplate (nav bars, licence
    headers, cookie banners) and is removed from every document, including
    its first occurrence. Lines shorter than ``min_line_chars`` after trim
    are exempt (blank separators are structure, not boilerplate).

    ``delimiter`` is a literal string; documents are split on it and kept
    lines are re-joined with it.

    ``index_counts`` (optional, for the incremental path —
    ``dedup_index.clean_against_line_index``): a (line_hash, n_docs) frame
    of per-line distinct-doc counts from an established corpus; the
    boilerplate threshold then applies to index + batch counts combined,
    so a batch against an EMPTY index reproduces this function exactly.

    Output per document: ``clean_text``, ``n_lines``, ``n_removed_lines``,
    ``removed_chars``.

    Scale shape: one map-side-combinable groupBy on the 16-byte line hash
    (hot boilerplate lines partial-aggregate before the shuffle), then a
    hash join back — the common-lines side holds only hashes that cleared
    ``min_docs``, a tiny fraction of distinct lines. The rebuild is a
    per-document sort of its own collected lines, never a global sort.
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), re.escape(delimiter))).alias(
            "__pos", "__line"
        ),
    )
    key = (
        ccnet_normalise(F.col("__line")) if normalise else F.trim(F.col("__line"))
    )
    lines = _stage(
        lines.withColumn("__t", F.trim(F.col("__line"))).withColumn(
            "__h", F.md5(key)
        )
    )
    eligible = F.length("__t") >= min_line_chars
    counts = (
        lines.where(eligible)
        .groupBy("__h")
        .agg(F.countDistinct("__id").alias("__docs"))
    )
    if index_counts is not None:
        idx = index_counts.select(
            F.col("line_hash").alias("__h"), F.col("n_docs").alias("__idx")
        )
        counts = counts.join(idx.hint("shuffle_hash"), on="__h", how="left")
        counts = counts.withColumn(
            "__docs", F.col("__docs") + F.coalesce(F.col("__idx"), F.lit(0))
        )
    common = counts.where(F.col("__docs") >= min_docs).select(
        "__h", F.lit(True).alias("__common")
    )
    flagged = lines.join(common.hint("shuffle_hash"), on="__h", how="left")
    dropped = F.coalesce(F.col("__common"), F.lit(False)) & eligible
    kept = F.when(
        ~dropped,
        F.struct(F.col("__pos").alias("p"), F.col("__line").alias("l")),
    )
    return flagged.groupBy(F.col("__id").alias(id_col)).agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["l"]
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(dropped.cast("long")).alias("n_removed_lines"),
        F.sum(
            F.when(dropped, F.length("__line")).otherwise(F.lit(0))
        ).alias("removed_chars"),
    )


# ---------------------------------------------------------- shingling

def tokens(col: Column) -> Column:
    """Whitespace tokenisation of already-clean text."""
    return F.split(F.trim(col), r"\s+")


#: Java-regex ``\s`` is ASCII-only; ``re.ASCII`` pins Python to the same set
#: ([ \t\n\x0B\f\r]) so NBSP and other Unicode spaces do NOT split.
_ASCII_WS = re.compile(r"\s+", re.ASCII)


def py_tokens(raw: str | None) -> list[str]:
    """Python twin of :func:`tokens` with IDENTICAL equality classes to the
    JVM expression ``split(trim(col), '\\s+')``:

    - ``trim`` strips the space character only, so leading ``\\t``/``\\n``
      yields an empty first token (and trailing ones an empty last token);
    - Java ``\\s`` is ASCII ``[ \\t\\n\\x0B\\f\\r]`` — NBSP/ideographic
      spaces do not split.

    Every Arrow kernel that tokenises in Python (gram hashing, winnowing,
    DSIR scoring) MUST use this instead of
    ``str.split()``, whose Unicode-whitespace + implicit-trim semantics
    silently produce different gram equality classes on scraped text.
    """
    return _ASCII_WS.split(("" if raw is None else raw).strip(" "))


def _fanout(df: DataFrame, key: str) -> DataFrame:
    """Spread rows by key before an expensive per-row fan-out (shingling,
    token explode). Uses an explicit partition count — AQE is free to
    re-coalesce keyed repartitions without one, which re-serialises the
    fan-out onto a few cores when the *input* bytes are small even though
    the exploded output is large.

    The count comes from cluster parallelism and the shuffle-partitions conf
    only — NOT ``df.rdd.getNumPartitions()``, which forces a full
    logical-plan -> RDD conversion on the driver per query build and fails
    outright on streaming DataFrames."""
    spark = df.sparkSession
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n = max(spark.sparkContext.defaultParallelism, shuffle_parts)
    return df.repartition(n, F.col(key))


def token_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles as an array<string> (pure array exprs).

    NOTE: higher-order functions are interpreted with no common
    subexpression elimination, so the lambda re-evaluates ``col``'s
    tokenisation per element. Prefer :func:`shingle_frame` on the hot
    path — it stages the token array as a column first.
    """
    return shingles_of(tokens(col), n)


def shingles_of(tok_col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of an already-materialised token array."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tok_col) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok_col, i, n)))
    )


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """``(__id, __sh)`` distinct-shingle table, fanned out across the
    cluster before the expensive stage.

    The token array is staged as a column, then shingled by the
    higher-order-function form. An Arrow batch loop building the same
    strings lost its A/B at sf0.1 (5.8 s vs 4.8 s): shipping 260k shingle
    strings back through Arrow costs more than the interpreted lambda.
    """
    staged = _fanout(df, id_col).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
    )
    return staged.select("__id", shingles_of(F.col("__toks"), n).alias("__sh"))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string arrays (treated as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within a blocking key.

    The self-join is on ``block_col`` — at scale pass an LSH band key; the
    unblocked variant is O(n^2) and deliberately not offered.
    Output: (id_a, id_b, jaccard_sim) with id_a < id_b.
    """
    sh = _fanout(df, id_col).select(
        F.col(block_col).alias("__block"),
        F.col(id_col).alias("__id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select("__block", "__id", shingles_of(F.col("__toks"), n).alias("__sh"))
    # stage (persist+register): both self-join sides read the shingle table
    # and Catalyst does not reuse the exchange across aliased branches (see
    # minhash sig note); release with release_staged(spark)
    sh = _stage(sh)
    a = sh.select(
        F.col("__block"),
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = sh.select(
        F.col("__block"),
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    pairs = a.join(b, on="__block").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("jaccard_sim", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


# ------------------------------------------------------------- minhash

# Universal-hash permutation family for the fast path: h_j(x) = (a_j*x + b_j)
# mod p over the Mersenne prime 2^31-1. The shingle is string-hashed ONCE
# (xxhash64) and reduced mod p; each of the K minhash functions is then two
# integer ops, not another string hash. a_j/b_j come from a fixed-seed PRNG so
# signatures are deterministic across runs and cluster sizes. All intermediate
# products stay < 2^62, so the arithmetic is ANSI-mode safe (no overflow).
_MERSENNE_P = (1 << 31) - 1

def _permutation_params(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def band_hash_sql(
    b: int, num_hashes: int, bands: int, hash_mode: str
) -> str:
    """SQL expression for band ``b``'s bucket hash over signature columns
    ``h0..h{K-1}`` — the ONE definition both the LSH candidate join and
    the persisted dedup index use; a drift between them would silently
    stop index lookups from colliding with batch LSH results."""
    assert num_hashes % bands == 0, (num_hashes, bands)
    rows_per_band = num_hashes // bands
    cols = ", ".join(
        f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
    )
    if hash_mode == "fast":
        return f"xxhash64({cols})"
    return (
        f"cast(conv(substring(md5(concat_ws(':', {cols})), 1, 15), 16, 10)"
        " as bigint)"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    hash_mode: str = "fast",
    _shingled: bool = False,
) -> DataFrame:
    """K minhash values per document as columns ``h0..h{K-1}``.

    With ``_shingled=True``, ``df`` is already a ``(__id, __sh)`` shingle
    table (internal reuse path — lets one shingling pass feed both the
    signatures and the verification join).

    Shape chosen for scale: explode shingles once, hash each shingle string
    exactly once, then min-aggregate — the partial (map-side) min means the
    shuffle carries K longs per doc per partition, never the shingles.

    fast mode: one xxhash64 per shingle, reduced mod 2^31-1, then K universal
    linear permutations (two integer ops each) — K string hashes collapse to
    one. portable mode: one md5 per (seed, shingle) so a SQL oracle can
    reproduce every signature bit-for-bit.

    Documents with no tokens sign with the hash of '' via the empty-shingle
    guard in ``token_shingles``.
    """
    # Repartition by id before the explode: the shingle fan-out is the
    # expensive stage and must not inherit the scan's partitioning (a handful
    # of large parquet files would serialise it onto a handful of cores).
    base = df if _shingled else shingle_frame(df, id_col, text_col, n)
    sh = base.select("__id", F.explode("__sh").alias("__sh"))
    if hash_mode == "fast":
        base = F.pmod(F.xxhash64(F.col("__sh")), F.lit(_MERSENNE_P))
        # selectExpr strings, not nested Column objects: K x py4j round-trips
        # of expression building collapse to one JVM-side parse (measured
        # ~0.5 s of driver time at K=32)
        hashed = sh.select("__id", base.alias("__x")).selectExpr(
            "__id",
            *[
                f"pmod(__x * {a}L + {b}L, {_MERSENNE_P}L) as h{j}"
                for j, (a, b) in enumerate(_permutation_params(num_hashes))
            ],
        )
    else:
        # Portable mode shares the fast path's shape — ONE string hash per
        # shingle (md5, engine-reproducible) reduced mod p, then K integer
        # permutations. The old form took K md5s per shingle; at K=16
        # that was the dominant cost of every oracle-checked dedup query.
        # All products stay < 2^62, so strict-overflow engines (DuckDB)
        # compute the identical value.
        base = F.pmod(
            F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10).cast(
                "bigint"
            ),
            F.lit(_MERSENNE_P),
        )
        hashed = sh.select("__id", base.alias("__x")).selectExpr(
            "__id",
            *[
                f"pmod(__x * {a}L + {b}L, {_MERSENNE_P}L) as h{j}"
                for j, (a, b) in enumerate(_permutation_params(num_hashes))
            ],
        )
    return hashed.groupBy("__id").agg(
        *[F.min(f"h{j}").alias(f"h{j}") for j in range(num_hashes)]
    )


def bucket_cap_stats(
    flagged: DataFrame,
    max_bucket: int,
    size_col: str,
    rows_alias: str,
    buckets_alias: str,
    total_alias: str,
) -> dict:
    """ONE aggregation over a window-flagged table reporting what a
    bucket-size cap drops (VERDICT r9 #4): rows in over-cap buckets, the
    over-cap bucket count, and the total row count. Every row of a
    dropped bucket carries that bucket's size, so sum(1/size) over
    dropped rows counts dropped BUCKETS without a second grouping;
    round() absorbs the 1/k float residue. Shared by the LSH candidate
    cap, the batch self-join cap (dedup_index) and the winnowing
    fingerprint cap (text)."""
    over = F.col(size_col) > max_bucket
    row = flagged.agg(
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0)).alias(
            rows_alias
        ),
        F.coalesce(
            F.round(
                F.sum(F.when(over, 1.0 / F.col(size_col)).otherwise(0.0))
            ).cast("long"),
            F.lit(0),
        ).alias(buckets_alias),
        F.count(F.lit(1)).alias(total_alias),
    ).first()
    return row.asDict()


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
    max_bucket: int | None = 100_000,
    cap_stats: dict | None = None,
    _shingled: bool = False,
) -> DataFrame:
    """MinHash LSH candidate pairs: (id_a, id_b) sharing >= 1 band.

    rows/band = num_hashes/bands; with 32/8 the S-curve crosses ~0.5 around
    J ~ 0.6. The band self-join key is (band_idx, band_hash) — a compact
    long pair — so the shuffle moves ids, not documents.

    ``max_bucket`` is the degenerate-bucket guard for the 100 TB path: a
    band bucket holding B docs contributes B^2 join rows, and real corpora
    have pathological keys (empty docs, boilerplate, licence headers)
    whose buckets hold millions — one such key turns the self-join
    quadratic. Buckets above the cap are dropped from the candidate join
    (their members are near-exact duplicates of each other and belong to
    the much cheaper exact-dedup pass). ``None`` disables the guard.

    The cap is no longer silent (VERDICT r9 #4): pass a dict as
    ``cap_stats`` and it is filled (eagerly, at call time) with
    ``n_band_rows_dropped`` (band-membership rows in dropped buckets),
    ``n_buckets_dropped`` and ``n_band_rows``. The aggregation runs over
    the staged band table the self-join is about to read anyway, so it
    warms that cache rather than adding a corpus pass. (A zero-extra-pass
    ``Observation``/CollectMetrics design was tried and rejected: AQE's
    empty-relation propagation prunes the metrics node whenever the cap
    drops everything — exactly the case the stats exist to report.)
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # persist: the band self-join reads the signatures from BOTH sides and
    # Catalyst does not reuse the exchange across the aliased branches —
    # uncached, the whole explode+hash+min pipeline would run twice. The
    # table is tiny (K longs per doc), so this caches K*8 bytes/doc.
    # Memoised on the (plan, params) key: a later query in the same session
    # asking for the same signatures (pair listing feeding a clustering
    # pass, say) reuses this table instead of re-shingling the corpus.
    sig = _memo_stage(
        df,
        "sig",
        (id_col, text_col, n, num_hashes, hash_mode, _shingled),
        lambda: minhash_signatures(
            df, id_col, text_col, n, num_hashes, hash_mode, _shingled=_shingled
        ),
    )

    band_arr = ", ".join(
        f"struct({b} as band, {band_hash_sql(b, num_hashes, bands, hash_mode)} as bh)"
        for b in range(bands)
    )
    banded = sig.selectExpr(
        "__id", f"explode(array({band_arr})) as __band"
    ).select("__id", "__band.band", "__band.bh")
    if max_bucket is not None:
        # Window count over the join key itself — one exchange on
        # (band, bh), no size-table join; the self-join re-shuffles on the
        # same key right after.
        from pyspark.sql import Window

        wb = Window.partitionBy("band", "bh")
        # staged PRE-filter: both self-join branches (and the optional
        # stats aggregation) read the flagged table once; the dropped
        # rows it additionally holds are the same order as the band table
        flagged = _stage(banded.withColumn("__bsz", F.count(F.lit(1)).over(wb)))
        if cap_stats is not None:
            cap_stats.update(
                bucket_cap_stats(
                    flagged, max_bucket, "__bsz",
                    "n_band_rows_dropped", "n_buckets_dropped", "n_band_rows",
                )
            )
        banded = flagged.where(F.col("__bsz") <= max_bucket).drop("__bsz")
    a = banded.select(F.col("band"), F.col("bh"), F.col("__id").alias("id_a"))
    b = banded.select(F.col("band"), F.col("bh"), F.col("__id").alias("id_b"))
    return (
        a.join(b, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    hash_mode: str = "fast",
) -> DataFrame:
    """Full MinHash pipeline: LSH candidates verified with exact Jaccard.

    Output: (id_a, id_b, jaccard_sim >= threshold).

    The shingle table is built once and persisted (memory-and-disk) — it
    feeds both the signature pass and the Jaccard verification join;
    recomputing it would be a second full shingling pass over the corpus.
    Both the shingle table and the derived signatures are memoised per
    session (semantic plan key), so repeated dedup queries over the same
    corpus — or a suite whose branches each need the pairs — shingle once.
    """
    sh = _memo_stage(
        df,
        "shingles",
        (id_col, text_col, n),
        lambda: shingle_frame(df, id_col, text_col, n),
    )
    cands = minhash_lsh_candidates(
        sh, "__id", None, n, num_hashes, bands, hash_mode, _shingled=True
    )
    verified = (
        cands.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
        .withColumn("jaccard_sim", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard_sim") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard_sim")


# ------------------------------------------------------------- simhash

def _simhash_arrow_fast(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Zero-shuffle SimHash: one ``mapInPandas`` pass computes the whole
    64-bit fingerprint per document inside a numpy batch kernel.

    The expression form (kept for the portable/oracle mode) pays an
    explode + two shuffles (token pre-reduce, 32-wide packed sums); here a
    batch of documents is tokenised, tokens are factorised so each unique
    token is FNV-1a-hashed once (Zipf: most occurrences are repeats), the
    64-bit unpack is one strided compare, and per-document bit counts are
    one ``np.add.reduceat`` over the doc boundaries. Values are their own
    hash family (as with winnowing's fast mode) — use ``portable`` when an
    external engine must reproduce them.
    """
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [df.schema[id_col], StructField("simhash", LongType(), False)]
    )
    fnv_off = np.uint64(0xCBF29CE484222325)
    fnv_prime = np.uint64(0x100000001B3)
    ws = _ASCII_WS  # tokens() parity: Java \s is ASCII-only (NBSP ≠ split)
    bit_idx = np.arange(64, dtype=np.uint64)
    chunk = 4096  # docs per kernel pass: bounds the n_occ x 64 bit matrix

    def _hash_uniques(uniq) -> "np.ndarray":
        enc = [u.encode("utf-8") for u in uniq]
        ulens = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
        h = np.full(len(enc), fnv_off, dtype=np.uint64)
        if not len(enc) or not ulens.any():
            return h
        flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
        mat = np.zeros((len(enc), int(ulens.max())), dtype=np.uint64)
        row = np.repeat(np.arange(len(enc)), ulens)
        col = np.arange(len(flat)) - np.repeat(np.cumsum(ulens) - ulens, ulens)
        mat[row, col] = flat
        for c in range(mat.shape[1]):
            m = ulens > c
            h[m] = (h[m] ^ mat[m, c]) * fnv_prime  # uint64 wraps mod 2^64
        # murmur3 fmix64 finaliser: FNV-1a's high bits mix poorly on short
        # inputs, and SimHash needs all 64 bit positions independent
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xC4CEB9FE1A85EC53)
        h ^= h >> np.uint64(33)
        return h

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                if not len(part):
                    continue
                # parity with tokens(): F.trim strips spaces only, and
                # Java split keeps the leading "" of "".split
                tok_lists = [
                    ws.split(("" if t is None else t).strip(" "))
                    for t in part[text_col]
                ]
                lens = np.fromiter(
                    (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
                )  # always >= 1: splitting "" yields [""]
                codes, uniq = pd.factorize(
                    np.asarray(
                        [tok for toks in tok_lists for tok in toks], dtype=object
                    )
                )
                occ = _hash_uniques(uniq)[codes]
                bits = (
                    (occ[:, None] >> bit_idx) & np.uint64(1)
                ).astype(np.uint8)
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                cnt = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                fp = (
                    ((2 * cnt > lens[:, None]).astype(np.uint64) << bit_idx)
                    .sum(axis=1, dtype=np.uint64)
                    .view(np.int64)
                )
                yield pd.DataFrame(
                    {id_col: part[id_col].values, "simhash": fp}
                )

    return _fanout(df.select(id_col, text_col), id_col).mapInPandas(
        run, schema=out_schema
    )


def simhash64(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "fast"
) -> DataFrame:
    """64-bit SimHash fingerprint per document (60-bit in portable mode).

    ``fast`` (the 100 TB path) is the zero-shuffle numpy Arrow kernel
    (:func:`_simhash_arrow_fast`). ``portable`` uses the expression form:
    explode tokens -> per-bit signed sums -> recombine, all built-in
    expressions, shuffling on the id.
    """
    if hash_mode not in ("fast", "portable"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    if hash_mode == "fast":
        return _simhash_arrow_fast(df, id_col, text_col)
    token_hash = F.conv(
        F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10
    ).cast("bigint")
    toks = _fanout(df, id_col).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).withColumn("__h", token_hash)
    # Pre-reduce to (doc, hash, term-count) first — natural-language docs
    # repeat tokens (Zipf), and the cheap count-agg shrinks the row set
    # the 32-wide packed aggregation below must scan. SimHash is term-
    # frequency weighted, so weighting each hash by its count is the
    # identical computation.
    weighted = toks.groupBy(id_col, "__h").agg(F.count(F.lit(1)).alias("__w"))
    # Packed per-bit set-counts: two 32-bit counters ride in each long sum
    # (contribution `w·bit_i + (w·bit_{i+32}) << 32`; per-doc token counts
    # stay < 2^31 so lanes can't borrow into each other), halving both the
    # aggregate expression count (32 sums, not 64) and the shuffled bytes
    # per doc. sign(Σ±1) == (2·cnt > n), so the fingerprint is
    # bit-identical to the textbook ±1 formulation in both hash modes.
    bit_sums = weighted.groupBy(id_col).agg(
        F.sum("__w").alias("__n"),
        *[
            F.sum(
                F.col("__w") * F.shiftright("__h", i).bitwiseAND(F.lit(1))
                + F.shiftleft(
                    F.col("__w")
                    * F.shiftright("__h", i + 32).bitwiseAND(F.lit(1)),
                    32,
                )
            ).alias(f"__p{i}")
            for i in range(32)
        ],
    )
    fingerprint = None
    for i in range(64):
        cnt = (
            F.col(f"__p{i}").bitwiseAND(F.lit(0xFFFFFFFF))
            if i < 32
            else F.shiftright(f"__p{i - 32}", 32)
        )
        bit = F.when(cnt * 2 > F.col("__n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return bit_sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hash_mode: str = "fast",
) -> DataFrame:
    """SimHash near-dup pairs blocked on 16-bit bands (pigeonhole: any pair
    with <= bands-1 differing bands shares a band), verified by exact
    Hamming distance."""
    # persist: the band self-join reads the fingerprints from both sides;
    # uncached, the explode + 64 conditional sums would execute twice
    fp = _stage(simhash64(df, id_col, text_col, hash_mode))
    width = 64 // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = fp.select(id_col, "simhash", F.explode(band_arr).alias("__band")).select(
        id_col, "simhash", "__band.band", "__band.key"
    )
    a = banded.select("band", "key", F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"))
    b = banded.select("band", "key", F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"))
    pairs = (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- exact substring spans

def _gram_pos_frame_portable(
    toks: DataFrame, id_col: str, min_tokens: int
) -> DataFrame:
    """(id, pos 1-based, gram key) for every ``min_tokens``-gram start —
    key is md5 of the space-joined gram, reproducible in any SQL engine."""
    L = min_tokens
    n = F.size("__t")
    starts = F.when(n >= L, F.sequence(F.lit(1), n - L + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return toks.select(
        F.col(id_col), F.col("__t"), F.explode(starts).alias("__pos")
    ).select(
        id_col,
        "__pos",
        F.md5(F.concat_ws(" ", F.slice("__t", F.col("__pos"), L))).alias("__g"),
    )


def _gram_pos_frame_fast(
    df: DataFrame, id_col: str, text_col: str, min_tokens: int
) -> DataFrame:
    """Arrow twin of :func:`_gram_pos_frame_portable`: Rabin-Karp polynomial
    gram hashes (same kernel as ``text.gram_hash_frame``) with positions;
    the duplicated-span DECISIONS are pinned equal to the portable mode
    (collisions ~birthday(2^64) merge two random grams, tolerated by
    design, same discipline as MinHash's fast mode)."""
    from .text import _doc_gram_hashes

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, __pos int, __g bigint"
    L = min_tokens

    def run(batches):
        import numpy as np
        import pandas as pd

        memo: dict[str, int] = {}
        for pdf in batches:
            ids, poss, ghs = [], [], []
            for rid, raw in zip(pdf[id_col], pdf[text_col]):
                tk = py_tokens(raw)  # tokenise ONCE; kernel reuses it
                if len(tk) < L:
                    continue  # short docs carry no L-gram (exact dedup's job)
                h = _doc_gram_hashes(raw, L, memo, distinct=False, toks=tk)
                ids.append(np.full(len(h), rid))
                poss.append(np.arange(1, len(h) + 1, dtype=np.int32))
                ghs.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "__pos": np.concatenate(poss),
                        "__g": np.concatenate(ghs),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    mode: str = "portable",
    max_doc_tokens: int = 1 << 24,
    index_firsts: DataFrame | None = None,
    index_raw: DataFrame | None = None,
    index_prune_fpp: float = 0.01,
) -> DataFrame:
    """Exact duplicated-substring removal — the relational rendition of
    ExactSubstr dedup (Lee et al. 2022, *Deduplicating Training Data Makes
    Language Models Better*): any ``min_tokens``-token span occurring more
    than once in the corpus (across documents OR within one) keeps its
    FIRST occurrence (smallest ``(id, position)``) and is removed
    everywhere else; overlapping duplicated spans merge naturally through
    per-token coverage. This sits between chunk dedup (fixed boundaries
    miss shifted copies) and line dedup (needs newline structure): it
    catches a paragraph pasted mid-document at any offset.

    Output per document: ``clean_text`` (kept tokens, space-joined),
    ``n_tokens``, ``n_removed_tokens``, ``n_dup_spans`` (maximal covered
    runs). Ids must be numeric (enforced — a string id would cast to NULL
    keys and silently remove nothing) and documents shorter than
    ``max_doc_tokens``: the first-occurrence key is ``id * max_doc_tokens
    + pos``, chosen integer so the min-aggregation is exact, map-side
    combinable, and storable as one long in the incremental gram index.
    String/UUID ids would need ``min(struct(id, pos))`` like
    :func:`chunk_dedup_stats` uses, at the cost of a two-column index
    key — map ids to longs upstream instead. NULL text yields no output
    row — callers coalesce upstream (same contract as
    ``line_dedup_frame``).

    Scale shape: one gram-keyed groupBy (hot boilerplate grams
    partial-aggregate map-side — the aggregate is ``min`` over a long),
    one hash join back of only the non-first starts, and two per-document
    row windows (bounded by document length, never corpus-wide). No float
    aggregates anywhere, so the result is partition-layout deterministic
    by construction. ``mode='fast'`` swaps the md5 gram key for the Arrow
    Rabin-Karp kernel; ``mode='portable'`` is the SQL-oracle-checked twin.

    ``index_firsts`` (optional, incremental form —
    ``dedup_index.clean_against_gram_index``): a (gram_hash, first_key)
    frame of per-gram first-occurrence keys from an established corpus
    (portable md5 keys); the first-occurrence decision then spans corpus +
    batch combined.

    ``index_raw`` (alternative to ``index_firsts``): the UN-aggregated
    (gram_hash, first_key) index scan.  The operator then prunes it by
    its OWN staged batch gram-firsts frame before the min-combine
    (``bloom.prune_index_by_keys`` — exact broadcast semi for small
    batches, Arrow Bloom past that), so the per-batch index aggregation
    handles ~O(batch) candidate grams instead of O(index), with NO
    second pass over the batch text to derive the prune keys.
    Decisions are bit-identical (no false negatives; per-gram
    all-or-none survival keeps the min exact) — pinned in
    test_bloom_prefilter.
    """
    from pyspark.sql import Window

    if mode not in ("portable", "fast"):
        raise ValueError(f"mode must be 'portable' or 'fast', got {mode!r}")
    L = int(min_tokens)
    if L < 2:
        raise ValueError("min_tokens must be >= 2")
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # a non-numeric id would cast to NULL occurrence keys and the
        # operator would silently remove NOTHING — refuse loudly instead
        raise ValueError(
            f"substring_dedup needs a numeric id column (got {id_col}: "
            f"{id_type}) — the first-occurrence key is id*max_doc_tokens+pos"
        )
    if mode == "fast" and (index_firsts is not None or index_raw is not None):
        raise ValueError(
            "index_firsts holds portable md5 gram keys, which can never "
            "match fast-mode Rabin-Karp keys — use mode='portable' with an "
            "index (dedup_index.clean_against_gram_index does)"
        )
    if index_firsts is not None and index_raw is not None:
        raise ValueError("pass index_firsts OR index_raw, not both")

    toks = _stage(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    )
    if mode == "portable":
        grams = _gram_pos_frame_portable(toks, id_col, L)
    else:
        grams = _gram_pos_frame_fast(df, id_col, text_col, L)

    occ_key = (
        F.col(id_col).cast("long") * F.lit(max_doc_tokens) + F.col("__pos")
    ).alias("__k")
    occs = grams.select(id_col, "__pos", "__g", occ_key)
    firsts = occs.groupBy("__g").agg(F.min("__k").alias("__first"))
    if index_raw is not None:
        from . import bloom as bloom_ops
        from .memguard import plan_size_estimate

        # semi-vs-bloom gate: size the UNSTAGED firsts aggregate (its
        # Catalyst estimate is the honest per-distinct-gram signal — a
        # staged InMemoryRelation reports garbage before materialising,
        # and the raw batch scan's filter pass-through over-estimates)
        est = plan_size_estimate(firsts)
        if est is None:
            df_est = plan_size_estimate(df)
            # key bytes ~6x text bytes: one 32-hex hash per ~5-byte token
            est = None if df_est is None else 6 * df_est
        # the batch firsts frame doubles as the prune-key source — stage
        # it so the prune's broadcast/bitmap build and the span join
        # below share ONE materialisation (no second gram pass)
        firsts = _stage(firsts)
        pruned = bloom_ops.prune_index_by_keys(
            index_raw,
            ["gram_hash"],
            firsts.select(F.col("__g").alias("gram_hash")),
            fpp=index_prune_fpp,
            size_hint=est,
        )
        index_firsts = pruned.groupBy("gram_hash").agg(
            F.min("first_key").alias("first_key")
        )
    if index_firsts is not None:
        # incremental path (dedup_index.clean_against_gram_index): the
        # established corpus's per-gram first-occurrence keys combine via
        # min, so a span already present in the corpus loses every batch
        # occurrence, and an EMPTY index reproduces this operator exactly.
        #
        # Join strategy: this is the one CORPUS-scale side in the operator
        # (the index holds every distinct gram ever ingested, growing
        # without bound), and Spark's shuffled-hash build side cannot
        # spill — the per-task hash map of a large index partition dies
        # with "not enough memory to build hash map" instead of degrading
        # (measured: sf10 stream under 3g/32, batch 7 of 10). Hash-hint
        # only while the measured build side fits a task's memory budget;
        # past that, the planner's sort-merge path spills cleanly and the
        # per-batch cost stays O(batch + index scan).
        from .memguard import hash_build_fits, plan_size_estimate

        idx = index_firsts.select(
            F.col("gram_hash").alias("__g"), F.col("first_key").alias("__if")
        )
        if hash_build_fits(df.sparkSession, plan_size_estimate(index_firsts)):
            idx = idx.hint("shuffle_hash")
        firsts = (
            firsts.join(idx, on="__g", how="left")
            .withColumn(
                "__first",
                F.least(F.col("__first"), F.coalesce("__if", F.col("__first"))),
            )
            .drop("__if")
        )
    dup_starts = (
        occs.join(firsts.hint("shuffle_hash"), on="__g")
        .where(F.col("__k") != F.col("__first"))
        .select(id_col, "__pos", F.lit(1).alias("__d"))
    )

    tok = toks.select(
        F.col(id_col), F.posexplode("__t").alias("__p0", "__tok")
    ).select(id_col, (F.col("__p0") + 1).alias("__pos"), "__tok")
    flagged = tok.join(
        dup_starts.hint("shuffle_hash"), on=[id_col, "__pos"], how="left"
    )
    w_cov = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(-(L - 1), 0)
    )
    cov = flagged.select(
        id_col,
        "__pos",
        "__tok",
        (F.max(F.coalesce(F.col("__d"), F.lit(0))).over(w_cov) == 1).alias(
            "__cov"
        ),
    )
    w_seq = Window.partitionBy(id_col).orderBy("__pos")
    spans = cov.select(
        id_col,
        "__pos",
        "__tok",
        "__cov",
        (
            F.col("__cov")
            & ~F.coalesce(F.lag("__cov").over(w_seq), F.lit(False))
        ).alias("__span_start"),
    )
    kept = F.when(
        ~F.col("__cov"),
        F.struct(F.col("__pos").alias("p"), F.col("__tok").alias("l")),
    )
    return spans.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["l"]),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("__cov").cast("long")).alias("n_removed_tokens"),
        F.sum(F.col("__span_start").cast("long")).alias("n_dup_spans"),
    )
