"""Executor-memory pressure detection shared by the derating operators.

SPILL_r05 measured the curation suite dying at a 2 GiB heap (~1.0 GiB
unified memory) on two distinct fronts while 3 GiB completed:

- 32 threads: raw Java heap OOM materialising the connected-components
  lineage checkpoint;
- 8 threads: ``UNABLE_TO_ACQUIRE_MEMORY ... got 0`` — the execution pool
  starved because the persisted LSH staged frames pin the protected
  storage region while concurrent tasks contend for the rest.

Below the threshold, operators that keep resident state derate to
disk-backed forms (reliable checkpoints in ``graph.connected_components``,
``DISK_ONLY`` persists in ``dedup._stage``): slower, but the unified pool
stays free for execution and the run completes instead of dying. The
production fix remains the sizing invariant (SCALING.md: ~100 MB/core at
sf10 density); the derate is the graceful floor under it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Unified-pool size under which resident state must leave memory.
#: Calibrated to the SPILL_r05 grid: 2 GiB heap (~1.0 GiB unified) died on
#: both fronts, 3 GiB heap (~1.66 GiB unified = (3072-300 MiB)*0.6)
#: completed UN-derated — so the threshold must sit strictly between the
#: two, not above the passing cell (r6's 2 GiB value silently derated the
#: measured-passing 3 GiB config and every default 1g driver session —
#: ADVICE r6 #1). 1.25 GiB keeps the failing cell derated with margin and
#: leaves every measured-passing size at full speed.
TIGHT_UNIFIED_BYTES = (1 << 30) + (1 << 28)  # 1.25 GiB
_JVM_RESERVED = 300 << 20  # Spark's RESERVED_SYSTEM_MEMORY_BYTES


def unified_pool_bytes(spark: SparkSession) -> int | None:
    """Local-mode unified memory pool size; None on a cluster (where the
    per-executor pool is not knowable from the driver in general)."""
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        return None
    try:
        heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        fraction = float(spark.conf.get("spark.memory.fraction", "0.6"))
    except Exception:
        return None
    return int(max(0, heap - _JVM_RESERVED) * fraction)


#: Fraction of the unified pool the CUMULATIVE staged (persisted)
#: working set may claim before ``dedup._stage`` derates further
#: persists to DISK_ONLY at plan time (VERDICT r11 #3). SCALING.md r11
#: measured llm_curation_suite at sf10/8g spilling 6.9 GB from cached
#: signature/token tables — the working set exceeded execution memory
#: and Spark discovered it at runtime; this sizes the same decision
#: BEFORE the persist. 0.3 mirrors spark.memory.storageFraction's
#: half-pool default with headroom for the deserialized-object
#: inflation MEMORY_AND_DISK blocks carry over their plan estimate.
STAGE_STORAGE_FRACTION = 0.3


def staged_persist_decision(
    spark: SparkSession, df, staged_bytes_so_far: int = 0
) -> tuple[str, str, int]:
    """Plan-time persist-level choice for a staged self-join input:
    ``("memory"|"disk", reason, plan_estimate_bytes)``.

    Two derate triggers, checked in order:

    - the unified pool is tight in the absolute sense
      (:func:`tight_memory` — SPILL_r05's 2 GiB cells): everything
      staged goes to disk;
    - the CUMULATIVE staged estimate (prior stages + this frame's
      Catalyst byte estimate) would exceed ``STAGE_STORAGE_FRACTION``
      of the unified pool: this frame goes to disk so cached blocks
      stop pinning the storage region that execution is about to need
      (the sf10/8g spill regime, discovered at plan time instead of by
      the runtime spill counters).

    On a cluster the per-executor pool is unknowable from the driver
    and the standard sizing invariant applies — no derate. A frame
    with no usable Catalyst estimate stays in memory (underestimating
    is the safe direction: MEMORY_AND_DISK evicts under pressure; the
    derate exists to avoid PINNING the pool with a known-large set)."""
    import os

    if tight_memory(spark):
        return "disk", "unified pool under TIGHT_UNIFIED_BYTES", 0
    pool = unified_pool_bytes(spark)
    if pool is None:
        return "memory", "cluster mode: standard sizing invariant applies", 0
    est = plan_size_estimate(df)
    if est is None:
        return "memory", "no usable plan size estimate", 0
    # ops override for A/B'ing the budget on a specific deployment
    # (0 forces every staged frame to disk)
    frac = float(
        os.environ.get(
            "SPARK_GRAFT_STAGE_STORAGE_FRACTION", str(STAGE_STORAGE_FRACTION)
        )
    )
    budget = int(pool * frac)
    if staged_bytes_so_far + est > budget:
        return (
            "disk",
            f"staged working set {(staged_bytes_so_far + est) >> 20} MiB "
            f"would exceed {frac:.0%} of the "
            f"{pool >> 20} MiB unified pool",
            est,
        )
    return "memory", "fits staged-storage budget", est


def hash_build_fits(
    spark: SparkSession,
    build_bytes: int | None,
    expansion: float = 3.0,
) -> bool:
    """Decide whether a shuffled-hash join build side of ``build_bytes``
    (a plan/file size estimate) can be hash-hinted safely: Spark's SHJ
    build side CANNOT spill, so an over-budget per-task hash map dies
    with "not enough memory to build hash map" instead of degrading
    (measured: the streaming gram index at sf10 under a 3g/32 local
    session). The budget is half a task's fair share of the unified
    pool; ``expansion`` covers parquet->UnsafeHashedRelation inflation.
    Unknown sizes are NOT safe (unbounded-growth sides like incremental
    indexes default to the spillable sort-merge path); on a cluster the
    estimate-free sizing invariant applies and the hint is allowed."""
    if build_bytes is None or build_bytes < 0:
        return False
    pool = unified_pool_bytes(spark)
    if pool is None:
        return True
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        parts = 200
    concurrent = max(1, min(spark.sparkContext.defaultParallelism, parts))
    per_task_budget = pool / concurrent / 2
    per_task_build = build_bytes * expansion / max(parts, 1)
    return per_task_build <= per_task_budget


#: Incremental span-dedup resident model, calibrated against the
#: measured SPILL_r07 grid (sf10 corpus = 148.8 MB raw text in 10
#: micro-batches of ~14.9 MB, index +~90 MB/batch): 2g/32 completed
#: batch 0 then heap-OOM'd in the per-doc coverage-window stage at
#: batch 1 (index ~87 MB); 3g/32 completed all 10 batches (index to
#: 894 MB). ``batch_bytes`` is the RAW TEXT byte count of the
#: micro-batch (measured with one map-only aggregate — a streaming
#: micro-batch frame has no usable Catalyst size estimate, verified
#: r8: the plan-stats path silently skipped the guard and the JVM died
#: raw at 2g). The batch term models the token posexplode + two
#: per-document row windows (~80 bytes of sort-buffer state per text
#: byte across the concurrent tasks); the index term the sort-merge
#: scan side of the corpus-scale first-key join. The three measured
#: cells bound the constants with 43/44/174 MB margins.
SPAN_RESIDENT_PER_BATCH_BYTE = 80
SPAN_RESIDENT_PER_INDEX_BYTE = 1.0
SPAN_RESIDENT_PER_CORE = 16 << 20


#: Gram-index BUILD resident model (r12 verdict #2 — the one remaining
#: hard-OOM path). A corpus-wide ``build_gram_index`` explodes every
#: text into ~0.16 md5-gram rows per text byte and funnels them through
#: a hash aggregate straight into concurrent parquet writers; the
#: resident pressure is ~proportional to the corpus TEXT bytes in
#: flight. Calibrated on the r13 2 GiB/32 grid (SPILL_r13): the 142 MB
#: single-pass build runs at 95% heap allocation and OOMs under session
#: variation (BLOOM_r12 memory note), and a 2-pass split (71 MB
#: text/pass — exactly at a 1228 MB budget under the earlier 10.0
#: coefficient) STILL heap-OOM'd once in the aggregate's spill-read
#: path (GCLocker retry, r13 cell 2), so the stochastic cells classify
#: as failing: the coefficient must put 71 MB/pass OVER a 1228 MB
#: budget (c > 17.3). 20.0 does, with margin — it derates the sf10
#: build to 3 passes (~47 MB text/pass, modeled ~945 MB, measured
#: completing), keeps the 42.6 MB sf3 build single-pass (completes
#: with zero spill), and leaves any 8 GiB build single-pass.
GRAM_BUILD_RESIDENT_PER_TEXT_BYTE = 20.0

#: Upper bound on build passes — past this, the corpus:executor-memory
#: ratio is a sizing error, not something to paper over with thousands
#: of sequential appends.
GRAM_BUILD_MAX_PASSES = 64


def gram_build_passes(
    spark: SparkSession, text_bytes: int | None
) -> tuple[int, str | None]:
    """Plan-time pass count for a corpus gram-index build:
    ``(passes, floor_msg)``. ``passes`` = how many sequential id-range
    slices the build needs so each slice's resident working set
    (:data:`GRAM_BUILD_RESIDENT_PER_TEXT_BYTE` x slice text bytes plus
    the per-core overhead) fits the executor heap — 1 means the plain
    single-pass build is safe. ``floor_msg`` names the invariant when
    no slicing can fit (per-core overhead alone exceeds the heap, or
    the pass count tops :data:`GRAM_BUILD_MAX_PASSES`); the caller
    raises ``CurationMemoryError`` with it at PLAN time instead of
    letting the JVM die mid-write. Unknown sizes / cluster mode without
    executor confs return ``(1, None)`` — the standard sizing invariant
    applies there."""
    if text_bytes is None or text_bytes <= 0:
        return 1, None
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        heap = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
        cores = spark.sparkContext.defaultParallelism
    else:
        exec_mem = spark.conf.get("spark.executor.memory", None)
        exec_cores = spark.conf.get("spark.executor.cores", None)
        if not (exec_mem and exec_cores):
            return 1, None
        from ..plans.curation import _parse_executor_memory

        heap = _parse_executor_memory(exec_mem)
        cores = int(exec_cores)
    budget = max(0, heap - _JVM_RESERVED) - SPAN_RESIDENT_PER_CORE * cores
    if budget <= 0:
        return 0, (
            "gram-index build sizing invariant violated: the fixed "
            f"per-core overhead ({SPAN_RESIDENT_PER_CORE >> 20} MiB x "
            f"{cores} cores) alone exceeds the usable heap of a "
            f"{heap / 2**30:.1f} GiB executor — no slicing can fit. "
            "Raise executor memory or lower concurrency."
        )
    import math

    passes = max(
        1, math.ceil(GRAM_BUILD_RESIDENT_PER_TEXT_BYTE * text_bytes / budget)
    )
    if passes > GRAM_BUILD_MAX_PASSES:
        return passes, (
            "gram-index build sizing invariant violated: "
            f"{text_bytes / 2**20:.0f} MiB of corpus text needs ~"
            f"{passes} sequential build passes to fit a "
            f"{heap / 2**30:.1f} GiB executor (budget "
            f"{budget / 2**20:.0f} MiB/pass at "
            f"{GRAM_BUILD_RESIDENT_PER_TEXT_BYTE:g} resident bytes per "
            f"text byte) — past the {GRAM_BUILD_MAX_PASSES}-pass bound "
            "this is an executor sizing error. Raise executor memory "
            "or build from a pre-partitioned corpus."
        )
    return passes, None


def incremental_span_floor_decidable(spark: SparkSession) -> bool:
    """True when :func:`incremental_span_floor_message` could possibly
    fire — local mode (the driver IS the executor) or a cluster session
    with executor memory AND cores configured. Callers check this BEFORE
    measuring batch/index sizes: the batch-bytes aggregate is a full
    extra scan of the micro-batch, not worth paying for a check that can
    never fire."""
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        return True
    return bool(
        spark.conf.get("spark.executor.memory", None)
        and spark.conf.get("spark.executor.cores", None)
    )


def incremental_span_floor_message(
    spark: SparkSession,
    batch_bytes: int | None,
    index_bytes: int,
) -> str | None:
    """Plan-time sizing check for the INCREMENTAL ExactSubstr path
    (``streaming.curation.span_dedup_batch``): the batch operator's
    floor guard (`plans.curation._check_memory_floor`) models a
    corpus-sized input, but the incremental path's resident set scales
    with the micro-batch plus the growing gram index — at 2g/32 it dies
    with a RAW executor heap OOM in the per-doc coverage-window stage
    (SPILL_r07, batch 1) instead of a classified error.
    ``batch_bytes`` = raw text bytes of the micro-batch. Returns the
    violation message naming the invariant, or None when sized OK /
    undecidable (unknown batch size; cluster mode without executor
    confs).
    """
    if batch_bytes is None or batch_bytes <= 0:
        return None
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        cores = spark.sparkContext.defaultParallelism
    else:
        exec_mem = spark.conf.get("spark.executor.memory", None)
        exec_cores = spark.conf.get("spark.executor.cores", None)
        if not (exec_mem and exec_cores):
            return None
        from ..plans.curation import _parse_executor_memory

        heap = _parse_executor_memory(exec_mem)
        cores = int(exec_cores)
    avail = max(0, heap - _JVM_RESERVED)
    resident = int(
        SPAN_RESIDENT_PER_BATCH_BYTE * batch_bytes
        + SPAN_RESIDENT_PER_INDEX_BYTE * index_bytes
        + SPAN_RESIDENT_PER_CORE * cores
    )
    if resident <= avail:
        return None
    need = resident + _JVM_RESERVED
    return (
        "incremental span-dedup sizing invariant violated: estimated "
        f"resident working set ~{resident / 2**20:.0f} MiB "
        f"(~{SPAN_RESIDENT_PER_BATCH_BYTE}x the {batch_bytes / 2**20:.1f} MiB "
        f"of micro-batch text for the per-document coverage windows + "
        f"{SPAN_RESIDENT_PER_INDEX_BYTE:g}x the {index_bytes / 2**20:.0f} MiB "
        f"gram index + {SPAN_RESIDENT_PER_CORE >> 20} MiB x "
        f"{cores} cores) "
        f"exceeds the ~{avail / 2**20:.0f} MiB usable heap of a "
        f"{heap / 2**30:.1f} GiB executor. Below this floor the JVM "
        "heap-OOMs in the coverage-window stage instead of spilling "
        "(SPILL_r07). Raise executor memory to ~"
        f"{need / 2**30 + 0.5:.0f} GiB, shrink the micro-batch "
        "(maxFilesPerTrigger), compact the gram index, or pass "
        "memory_guard=False to proceed anyway."
    )


def plan_size_estimate(df) -> int | None:
    """Catalyst's sizeInBytes for a frame (exact for file scans, a guess
    after joins); None when unavailable or absurd."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps Scala BigInt to a plain int on Spark 4; older
        # bridges hand back a JavaObject needing toString()
        est = int(raw) if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None
    if est <= 0 or est > 1 << 50:
        return None
    return est


def _broadcast_threshold_bytes(spark: SparkSession) -> int | None:
    """spark.sql.autoBroadcastJoinThreshold in bytes (handles the
    '10MB' spelling); None when unreadable. -1 (broadcast disabled)
    comes through as -1, which makes every estimated index 'past the
    threshold' for :func:`index_past_broadcast`."""
    try:
        v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    except Exception:
        return None
    try:
        return int(v)
    except ValueError:
        pass
    try:
        jvm = spark.sparkContext._jvm
        return int(
            jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
        )
    except Exception:
        return None


def index_past_broadcast(index_scan) -> bool:
    """The one regime gate of every incremental index read: True when
    Catalyst's estimate of ``index_scan`` exceeds the session's
    autoBroadcastJoinThreshold. Past it, the batch-keyed joins would
    shuffle the corpus-sized index per batch (BLOOM_r14: 223 MB/batch
    at a 150k-doc index), so the consumer prunes the scan by the
    batch's own keys first; below it the direct plan is the measured
    winner. The size picks the plan, never the rows: every prune keeps
    all rows of any key the batch holds. The choice lands on the
    SparkContext local property ``tern.index_prune`` (``prune`` /
    ``direct``)."""
    spark = index_scan.sparkSession
    est = plan_size_estimate(index_scan)
    thr = _broadcast_threshold_bytes(spark)
    prune = est is not None and thr is not None and est > thr
    spark.sparkContext.setLocalProperty(
        "tern.index_prune", "prune" if prune else "direct"
    )
    return prune


def tight_memory(spark: SparkSession) -> bool:
    """True when the unified pool is too small to keep checkpoint/persist
    blocks resident. Only decidable in local mode, where the driver IS the
    executor; on a cluster the storage pressure is spread over executors
    and the standard sizing invariant applies instead."""
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        return False
    try:
        heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
        fraction = float(spark.conf.get("spark.memory.fraction", "0.6"))
    except Exception:
        return False
    return max(0, heap - _JVM_RESERVED) * fraction < TIGHT_UNIFIED_BYTES
