"""End-to-end training-corpus curation plan.

The user-facing composition of the curation operators — what a 100 TB
corpus run actually executes, in dependency order:

0. optional corpus-level line dedup (CCNet boilerplate removal) — lines
   shared across >= N docs are stripped before anything else looks at
   the text;
0b. optional ExactSubstr duplicated-span removal (Lee et al. 2022) —
   every non-first occurrence of a >= N-token span is cut, catching
   shifted copy-paste that line/chunk boundaries miss;
1. exact dedup (hash-groupBy; removes the bulk cheaply);
2. near-dup pairs (MinHash LSH, degenerate buckets capped) ->
   connected components -> keep only canonical (min-id) cluster members;
2b. optional containment gate (MOSS winnowing): drop a small document
   embedded verbatim in a larger one — resemblance-based MinHash dilutes
   exactly this case away (Schleimer et al. '03 §5);
3. optional sub-document gate: drop documents that are mostly duplicated
   chunks (boilerplate mirrors exact/near dedup misses);
4. optional train/eval decontamination (n-gram overlap anti-join);
5. quality gate (pure predicates, optionally a trained model score) +
   optional PII scrub;
6. deterministic per-domain sampling (fixed fractions or
   temperature-derived) and/or token-budget mixing.

Stage order is the cost order: each stage shrinks the corpus the next
(more expensive) stage scans. Every decision is reproducible — hash
sampling, min-id canonicals, seeded signatures — so a rerun (or a
backfill on a different cluster) selects the identical corpus.
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import sampling, text
from ..operators.graph import dedup_clusters


class CurationMemoryError(RuntimeError):
    """The executor sizing invariant is violated — see SCALING.md §spill.

    The curation pipeline keeps a bounded-but-real RESIDENT working set
    (persisted LSH staged frames, connected-components localCheckpoint
    blocks, concurrent tasks' Arrow/aggregation buffers) that cannot spill
    on demand. Below the per-executor memory floor the JVM dies with a raw
    heap OOM mid-checkpoint; this guard turns that into a plan-time error
    naming the invariant.
    """


#: Calibrated against the measured SPILL_r05 grid at sf10 density
#: (8g/32 pass, 3g/32 pass, 2g/32 OOM, 2g/8 OOM): the resident set tracks
#: the compressed input size (decoded text + signature/fingerprint staged
#: frames + CC checkpoint blocks ~ 16x parquet bytes) plus per-task buffers.
_RESIDENT_PER_INPUT_BYTE = 16
_RESIDENT_PER_CORE = 16 << 20
_JVM_RESERVED = 300 << 20  # spark.testing.reservedMemory default


def _memory_floor_message(
    input_bytes: int, heap_bytes: int, cores: int, fraction: float
) -> str | None:
    """Return the sizing-invariant violation message, or None if sized OK."""
    unified = max(0, heap_bytes - _JVM_RESERVED) * fraction
    resident = _RESIDENT_PER_INPUT_BYTE * input_bytes + _RESIDENT_PER_CORE * cores
    if resident <= unified:
        return None
    need_heap = resident / fraction + _JVM_RESERVED
    return (
        "curate_corpus sizing invariant violated: estimated resident working "
        f"set ~{resident / 2**20:.0f} MiB (persisted LSH staged frames + "
        "connected-components checkpoint blocks + per-task buffers; "
        f"~{_RESIDENT_PER_INPUT_BYTE}x the {input_bytes / 2**20:.0f} MiB input "
        f"+ {_RESIDENT_PER_CORE >> 20} MiB x {cores} cores) exceeds the "
        f"~{unified / 2**20:.0f} MiB unified memory pool of a "
        f"{heap_bytes / 2**30:.1f} GiB executor heap. Below this floor the "
        "JVM heap-OOMs materialising the CC checkpoint instead of spilling "
        "(SCALING.md: ~100 MB/core at sf10 density). Raise "
        f"spark.executor.memory to ~{need_heap / 2**30 + 0.5:.0f} GiB, run "
        "fewer cores per executor, or pass memory_guard=False to proceed "
        "anyway."
    )


def _check_memory_floor(docs: DataFrame) -> str | None:
    """Plan-time executor-sizing check for the curation pipeline.

    Only enforced where the numbers are knowable exactly: local mode (the
    driver IS the executor — heap from the live JVM, cores from the
    master). On a cluster the per-executor share of the resident set
    depends on the executor count, so the guard stays silent unless
    spark.executor.memory/cores/instances are all set.
    """
    spark = docs.sparkSession
    try:
        stats = docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        input_bytes = int(stats.toString())
    except Exception:
        return None
    if input_bytes <= 0 or input_bytes > 1 << 50:  # missing/absurd estimate
        return None
    fraction = float(spark.conf.get("spark.memory.fraction", "0.6"))
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        cores = spark.sparkContext.defaultParallelism
        return _memory_floor_message(input_bytes, heap, cores, fraction)
    exec_mem = spark.conf.get("spark.executor.memory", None)
    exec_cores = spark.conf.get("spark.executor.cores", None)
    exec_n = spark.conf.get("spark.executor.instances", None)
    if not (exec_mem and exec_cores and exec_n):
        return None
    heap = _parse_executor_memory(exec_mem)
    per_exec_input = input_bytes // max(int(exec_n), 1)
    return _memory_floor_message(per_exec_input, heap, int(exec_cores), fraction)


def _parse_executor_memory(s: str) -> int:
    """spark.executor.memory string -> bytes. Spark reads this conf with
    getSizeAsMb, so a UNITLESS value means MiB (not bytes); suffixed
    values follow JVM conventions (k/m/g/t, case-insensitive, optional
    trailing 'b' as in '512mb')."""
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    m = s.strip().lower()
    if m.endswith("b") and len(m) > 1 and m[-2] in units:
        m = m[:-1]
    if m and m[-1] in units:
        return int(float(m[:-1]) * (1 << units[m[-1]]))
    return int(m) << 20


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 20,
    max_chars: int = 1_000_000,
    minhash_threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    scrub: bool = False,
    domain_col: str | None = None,
    domain_fractions: Mapping[str, float] | None = None,
    sample_salt: str = "smp",
    bpe_merges: list[tuple[str, str]] | None = None,
    token_budget: float | None = None,
    max_dup_chunk_frac: float | None = None,
    containment_threshold: float | None = None,
    containment_k: int = 8,
    containment_window: int = 4,
    containment_max_bucket: int | None = 100_000,
    eval_df: DataFrame | None = None,
    decon_ngram: int = 8,
    quality_model=None,
    quality_threshold: float = 0.5,
    domain_alpha: float | None = None,
    domain_total: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_buckets: int = 10_000,
    line_dedup_min_docs: int | None = None,
    line_delimiter: str = "\n",
    substring_min_tokens: int | None = None,
    audit: bool = False,
    memory_guard: bool = True,
) -> DataFrame:
    """Curated corpus: the input schema plus ``n_chars_clean`` (and
    ``n_tokens``/``cum_weight`` when token budgeting is on); one row per
    surviving document. See module docstring for the stage order.

    ``audit=True`` changes the RETURN to per-document attribution —
    (id, stage) where stage names the stage that dropped the document
    ('exact_dup', 'near_dup', 'contained', 'chunk_boilerplate',
    'contaminated', 'quality_chars', 'quality_model', 'mix_sampled_out',
    'dsir_sampled_out', 'over_budget') or 'kept' — the "where did my document go" question a
    100 TB pipeline debug session actually asks. Stages partition the
    input ids exactly; computed from the run's own intermediates (one
    extra id anti-join per stage), so it cannot drift from the plan.

    ``dsir_target`` + ``dsir_k`` replaces stage 6's domain mixing with
    DSIR importance resampling (``sampling.importance_resample``): keep
    the ``dsir_k`` surviving documents whose hashed n-gram distribution
    importance-matches the target corpus — the published recipe for
    "select pretraining data that looks like my high-quality set"
    (Xie et al. 2023), deterministic and rerun-stable like every other
    stage. Mutually exclusive with ``domain_fractions``/``domain_alpha``
    (one selection policy per run).

    With ``bpe_merges`` + ``token_budget``, each domain keeps documents in
    (quality, id) order until the budget — measured in REAL tokens under
    the trained tokenizer, not characters — is exhausted. Data mixes are
    specified in tokens; a character proxy misallocates across domains
    with different token densities (code vs prose).
    """
    # DSIR argument validation FIRST (ADVICE r12 #3): stages 0-5 can do
    # eager work (quality-model driver fit, memory-guard probes), so a
    # mis-paired dsir_target/dsir_k must fail before any of it runs,
    # like every other parameter check — not at stage 6.
    if dsir_target is not None and (
        domain_fractions or domain_alpha is not None
    ):
        raise ValueError(
            "dsir_target is mutually exclusive with "
            "domain_fractions/domain_alpha — one selection policy per run"
        )
    if (dsir_target is None) != (dsir_k is None):
        raise ValueError(
            "dsir_target and dsir_k must be given together — a half-"
            "specified DSIR stage would silently select nothing"
        )

    # plan-time executor-sizing guard: fail fast with the invariant named
    # instead of a raw heap OOM mid-checkpoint (SCALING.md §spill). When
    # the session is already derating to disk-backed state (memguard
    # tight mode: DISK_ONLY staged persists + reliable CC checkpoints),
    # the resident profile the 16x heuristic models no longer applies —
    # those runs were measured to COMPLETE below the floor (SPILL_r06) —
    # so warn instead of rejecting a run the derate was built to carry
    # (ADVICE r6 #4).
    if memory_guard:
        floor_msg = _check_memory_floor(docs)
        if floor_msg is not None:
            from ..operators.memguard import tight_memory

            if tight_memory(docs.sparkSession):
                warnings.warn(
                    "curate_corpus below the un-derated memory floor; "
                    "continuing because tight-memory derating (disk-backed "
                    "persists/checkpoints) is active. " + floor_msg,
                    RuntimeWarning,
                    stacklevel=2,
                )
            else:
                raise CurationMemoryError(floor_msg)

    # 0. optional corpus-level line dedup (CCNet boilerplate removal):
    # strip lines shared by >= N distinct docs BEFORE any dedup stage —
    # boilerplate (cookie banners, licence headers) both wastes tokens and
    # inflates pairwise similarity, so removing it first makes the exact
    # and near-dup stages see the real content.
    if line_dedup_min_docs is not None:
        cleaned = dedup_ops.line_dedup_frame(
            docs,
            id_col,
            text_col,
            min_docs=line_dedup_min_docs,
            delimiter=line_delimiter,
        ).select(id_col, "clean_text")
        # LEFT join + coalesce, not inner: a NULL-text document produces no
        # lines (split(NULL) explodes to zero rows) and is absent from the
        # cleaned frame — an inner join would silently drop it here, where
        # the line-dedup-off path lets it reach exact dedup. Keeping it (with
        # its original NULL text) preserves the audit contract that the
        # stages partition the input ids exactly.
        docs = (
            docs.join(cleaned.hint("shuffle_hash"), on=id_col, how="left")
            .withColumn(text_col, F.coalesce(F.col("clean_text"), F.col(text_col)))
            .drop("clean_text")
        )

    # 0b. optional ExactSubstr duplicated-span removal (Lee et al. 2022):
    # a >= N-token span pasted verbatim anywhere else in the corpus keeps
    # only its first occurrence. Text-rewriting like stage 0 (no document
    # drops, so no audit row); runs after line dedup so already-stripped
    # boilerplate doesn't re-count, and before the dedup stages so shifted
    # copy-paste doesn't inflate near-dup similarity. Same LEFT-join
    # contract: NULL-text docs survive untouched.
    if substring_min_tokens is not None:
        spans = dedup_ops.substring_dedup(
            docs, id_col, text_col, min_tokens=substring_min_tokens
        ).select(
            id_col,
            F.col("clean_text").alias("__ss_clean"),
            F.col("n_removed_tokens").alias("__ss_rm"),
        )
        # rewrite ONLY documents that actually lost a span: the operator's
        # output is a space-joined token rebuild, which would destroy
        # newlines/indentation corpus-wide if applied to untouched docs
        docs = (
            docs.join(spans.hint("shuffle_hash"), on=id_col, how="left")
            .withColumn(
                text_col,
                F.when(
                    F.coalesce(F.col("__ss_rm"), F.lit(0)) > 0,
                    F.col("__ss_clean"),
                ).otherwise(F.col(text_col)),
            )
            .drop("__ss_clean", "__ss_rm")
        )

    audit_frames: list[DataFrame] = []
    prev_ids: DataFrame | None = docs.select(id_col) if audit else None

    def step(new_kept: DataFrame, stage: str) -> DataFrame:
        """Record the ids this stage dropped (audit mode only)."""
        nonlocal prev_ids
        if audit:
            dropped = prev_ids.join(
                new_kept.select(id_col), on=id_col, how="left_anti"
            )
            audit_frames.append(
                dropped.select(id_col, F.lit(stage).alias("stage"))
            )
            prev_ids = new_kept.select(id_col)
        return new_kept

    # 1. exact dedup first — near-exact copies would otherwise flood the
    # LSH band buckets (the degenerate case the bucket cap guards).
    deduped = step(dedup_ops.exact_dedup(docs, id_col, text_col), "exact_dup")

    # 2. near-dup clusters -> keep canonical members only. The anti-join
    # keys on ids, so only the (tiny) non-canonical id set shuffles.
    pairs = dedup_ops.minhash_dedup_pairs(
        deduped,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=minhash_threshold,
    )
    clusters = dedup_clusters(pairs)
    losers = clusters.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    kept = step(deduped.join(losers, on=id_col, how="left_anti"), "near_dup")

    # 2b. containment gate: a short document copied verbatim inside a much
    # longer one shares only a small FRACTION of the long doc's shingles,
    # so MinHash resemblance stays under any sane threshold — but its
    # containment (shared / min fingerprint count) is ~1. Drop the
    # contained (smaller-fingerprint-set) side; tie -> higher id, so the
    # rule is deterministic and the largest doc of a chain always survives.
    if containment_threshold is not None:
        fps = text.winnowing_fingerprints(
            kept, id_col, text_col, k=containment_k, window=containment_window
        )
        contained = (
            text.winnow_containment_pairs(
                fps, id_col, max_bucket=containment_max_bucket
            )
            .where(F.col("containment") >= containment_threshold)
            .select(
                F.when(
                    F.col("total_a") < F.col("total_b"), F.col("id_a")
                )
                .when(F.col("total_b") < F.col("total_a"), F.col("id_b"))
                .otherwise(F.greatest(F.col("id_a"), F.col("id_b")))
                .alias(id_col)
            )
            .distinct()
        )
        kept = step(kept.join(contained, on=id_col, how="left_anti"), "contained")

    # 3. sub-document boilerplate gate: a doc that survives whole-document
    # dedup can still be mostly chunks first seen elsewhere.
    if max_dup_chunk_frac is not None:
        heavy = (
            dedup_ops.chunk_dedup_stats(kept, id_col, text_col)
            .where(F.col("dup_chunk_frac") > max_dup_chunk_frac)
            .select(id_col)
        )
        kept = step(kept.join(heavy, on=id_col, how="left_anti"), "chunk_boilerplate")

    # 4. train/eval decontamination — flagged ids anti-join (the flag set
    # is tiny; the corpus side never shuffles inside contamination_hits).
    if eval_df is not None:
        flagged = text.contamination_hits(
            kept, eval_df, id_col, text_col, n=decon_ngram
        ).select(id_col)
        kept = step(kept.join(flagged, on=id_col, how="left_anti"), "contaminated")

    # 5. quality gate (+ scrub) — pure projections, fused into the scan;
    # optionally a trained model score (map-only transform).
    n = F.length(F.trim(F.col(text_col)))
    kept = step(
        kept.withColumn("n_chars_clean", n).where(
            (F.col("n_chars_clean") >= min_chars)
            & (F.col("n_chars_clean") <= max_chars)
        ),
        "quality_chars",
    )
    if quality_model is not None:
        from ..operators.quality_model import quality_filter

        kept = step(
            quality_filter(
                quality_model, kept, id_col, text_col,
                threshold=quality_threshold,
            ),
            "quality_model",
        )
    if scrub:
        kept = kept.withColumn(
            text_col, F.expr(text.scrub_pii_sql(text._sql_ident(text_col)))
        )

    # 6. deterministic domain mixing — fixed fractions, temperature-
    # derived cuts, or DSIR target-matching selection (arguments
    # validated at the top of the function, before any eager work).
    if dsir_target is not None and dsir_k is not None:
        picked = sampling.importance_resample(
            kept, dsir_target, dsir_k, id_col, text_col,
            buckets=dsir_buckets, salt=f"{sample_salt}-dsir",
        )
        # semi join on the k winners: AQE broadcasts the small side
        kept = step(
            kept.join(picked.select(id_col), on=id_col, how="left_semi"),
            "dsir_sampled_out",
        )
    if domain_col and domain_fractions:
        kept = step(
            sampling.stratified_hash_sample(
                kept, id_col, domain_col, domain_fractions, salt=sample_salt
            ),
            "mix_sampled_out",
        )
    elif domain_col and domain_alpha is not None and domain_total is not None:
        kept = step(
            sampling.temperature_sample(
                kept, id_col, domain_col, alpha=domain_alpha,
                total=domain_total, salt=sample_salt,
            ),
            "mix_sampled_out",
        )

    # 7. token budgeting under the real tokenizer.
    if bpe_merges is not None and token_budget is not None:
        if not domain_col:
            raise ValueError("token_budget requires domain_col")
        from ..operators.bpe import bpe_encode

        counts = bpe_encode(kept, bpe_merges, id_col, text_col).select(
            id_col, "n_tokens"
        )
        kept = step(
            sampling.budget_select(
                kept.join(counts, on=id_col),
                domain_col,
                [F.col("n_chars_clean").desc(), F.col(id_col)],
                "n_tokens",
                token_budget,
            ),
            "over_budget",
        )
    if audit:
        out = kept.select(id_col, F.lit("kept").alias("stage"))
        for frame in audit_frames:
            out = out.unionByName(frame)
        return out
    return kept
