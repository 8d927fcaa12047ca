"""Distributed graph primitives for dedup clustering.

Near-dup detection (MinHash/SimHash/embedding blocking) yields *pairs*;
turning pairs into keep/drop decisions needs the transitive closure — a
connected-components pass that assigns every document the canonical
(minimum) id of its duplicate cluster. The reference pipeline has no
equivalent (its dedup is row-exact only); this is part of the
training-data mandate's scale surface.

Algorithm: iterative min-label propagation with pointer jumping
(path halving), the DataFrame rendition of the classic MapReduce
connected-components schemes (Kiveris et al., "Connected Components in
MapReduce and Beyond"). Each round is two shuffles:

1. neighbour-min — every node adopts the smallest label in its closed
   neighbourhood (`groupBy(node).min(label)` over the symmetric edge
   list joined to current labels);
2. pointer jump — every node re-reads its label's *own* label
   (`labels ⋈ labels on label = node`), halving chain lengths so
   convergence is O(log diameter) rounds, not O(diameter).

Labels are node ids, so the result is deterministic (min id per
component) regardless of partitioning, retries, or cluster size. Each
round ends in ``localCheckpoint`` to truncate lineage — an iterative
plan otherwise doubles in depth per round and overwhelms the planner
long before the data is the bottleneck.
"""

from __future__ import annotations

import tempfile
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .memguard import tight_memory as _tight_memory


#: Checkpoint dirs THIS module created (vs a user-set one, which is never
#: touched). Contents are deleted at the end of each tight-mode CC run —
#: after the final labels frame has been re-materialised OFF the
#: checkpoint files — so reliable-checkpoint files no longer accumulate
#: for the life of the session (ADVICE r6 #2); the dirs themselves go at
#: interpreter exit.
_OWNED_CKPT_DIRS: set[str] = set()

#: Tight-mode CC runs currently alive, PER SparkContext (keyed by
#: applicationId — the checkpoint dir is context-global, not
#: process-global, so a run on context A must neither delete B's live
#: files nor leave A's own release gated on B's lifetime). Two driver
#: threads running tight-mode CC on the same context write
#: reliable-checkpoint files into the SAME owned root; emptying it when
#: the first run finishes would delete the second run's live files
#: mid-iteration (ADVICE r7 #2). Releases are refcounted per context:
#: the last active run on that context cleans its dir up.
_CKPT_LOCK = threading.Lock()
_ACTIVE_TIGHT_RUNS: dict = {}


def _enter_tight_run(spark) -> None:
    key = spark.sparkContext.applicationId
    with _CKPT_LOCK:
        _ACTIVE_TIGHT_RUNS[key] = _ACTIVE_TIGHT_RUNS.get(key, 0) + 1


def _exit_tight_run(spark) -> None:
    """Decrement this context's active-run count; empty its owned
    checkpoint dir only when no other tight-mode run on the SAME context
    still depends on the files."""
    key = spark.sparkContext.applicationId
    with _CKPT_LOCK:
        _ACTIVE_TIGHT_RUNS[key] -= 1
        if _ACTIVE_TIGHT_RUNS[key] == 0:
            del _ACTIVE_TIGHT_RUNS[key]
            _release_checkpoints(spark)


def _cleanup_owned_dirs() -> None:
    import shutil

    for d in list(_OWNED_CKPT_DIRS):
        shutil.rmtree(d, ignore_errors=True)


def _truncate(df: DataFrame, tight: bool) -> DataFrame:
    """Truncate lineage: resident localCheckpoint normally, reliable disk
    checkpoint when memory is tight (see ``memguard.TIGHT_UNIFIED_BYTES``)."""
    if not tight:
        return df.localCheckpoint()
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        have_dir = sc.getCheckpointDir() is not None
    except Exception:
        have_dir = False
    if not have_dir:
        import atexit

        d = tempfile.mkdtemp(prefix="spark-cc-ckpt-")
        sc.setCheckpointDir(d)
        if not _OWNED_CKPT_DIRS:
            atexit.register(_cleanup_owned_dirs)
        _OWNED_CKPT_DIRS.add(d)
    return df.checkpoint(eager=True)


def _release_checkpoints(spark) -> None:
    """Empty the module-owned checkpoint dir (keeping the context's live
    checkpoint path — an owned-root/<uuid> subdir Spark appended — valid
    for later runs). Only call after every frame that depends on the
    checkpoint files has been materialised elsewhere. A user-set
    checkpoint dir is never touched (not in ``_OWNED_CKPT_DIRS``)."""
    import os
    import shutil

    sc = spark.sparkContext
    try:
        d = sc.getCheckpointDir()  # file:<owned-root>/<context-uuid>
    except Exception:
        return
    if not d:
        return
    local = d.removeprefix("file:")
    owner = next(
        (o for o in _OWNED_CKPT_DIRS if local == o or local.startswith(o + os.sep)),
        None,
    )
    if owner and os.path.isdir(owner):
        shutil.rmtree(owner, ignore_errors=True)
        os.makedirs(local, exist_ok=True)  # keep the live path writable


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Exact same contract as the distributed loop, solved on the driver
    with path-compressed union-find. Used below the edge threshold where
    a distributed round's scheduling overhead dwarfs the work (the CC
    analogue of broadcasting a small join side). A million edges is
    ~32 MB collected — driver-trivial."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    pdf = sym.toPandas()  # Arrow transfer: one batch, no per-row py4j cost
    for a, b in zip(pdf.iloc[:, 0].to_list(), pdf.iloc[:, 1].to_list()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so the root IS the canonical id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(n, find(n)) for n in parent]
    node_type = sym.schema[0].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    return sym.sparkSession.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge list.

    Returns ``(node, component)`` where ``component`` is the minimum node
    id in the node's component — the canonical-document convention used
    by every dedup consumer. Only nodes that appear in ``edges`` are
    returned (isolated nodes are their own trivial components and carry
    no dedup information).

    Adaptive execution: at or below ``driver_threshold`` symmetric edges
    the transitive closure is solved with driver-side union-find (one
    collect, microseconds of CPU) — near-dup edge sets are usually tiny
    relative to the corpus, and a distributed round costs whole shuffles.
    Above it, the iterative min-label loop runs fully distributed; pass
    ``driver_threshold=0`` to force that path.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't converge —
    pathological for real near-dup graphs, whose components are small
    and dense; the pointer jump makes even a path graph converge in
    O(log n) rounds.
    """
    # Symmetrise with ONE pass over the edge plan: a self-union would
    # evaluate ``edges`` once per branch (Catalyst does not reuse the
    # subtree across union arms), and the edge list is typically the
    # output of a whole LSH band-join + verification pipeline.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    both = F.array(
        F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
    )
    sym = (
        e.select(F.explode(both).alias("p")).select("p.a", "p.b").distinct()
    )
    tight = _tight_memory(edges.sparkSession)
    if tight:
        # refcount the run so a concurrent tight-mode CC on the same
        # SparkSession (driver threads) keeps its checkpoint files until
        # BOTH runs have materialised their results off them
        _enter_tight_run(edges.sparkSession)
    try:
        sym = _truncate(sym, tight)

        # Size the iteration's shuffles to the graph, not the session
        # conf: the edge set is usually orders of magnitude smaller than
        # the corpus that produced it (near-dup pairs, not documents), and
        # every round pays per-partition scheduling overhead times two
        # shuffles. ~50k edges per partition keeps small graphs on a few
        # tasks while still fanning out arbitrarily for billion-edge
        # inputs.
        n_edges = sym.count()
        if n_edges <= driver_threshold:
            return _driver_union_find(sym)  # collects; ckpt-independent
        parallelism = sym.sparkSession.sparkContext.defaultParallelism
        parts = max(2, min(parallelism, n_edges // 50_000 + 1))
        sym = _truncate(sym.repartition(parts, "b"), tight)

        labels = (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .repartition(parts, "node")
        )
        labels = _truncate(labels, tight)

        for _ in range(max_iter):
            # 1. neighbour-min over the closed neighbourhood
            nbr = sym.join(
                labels.withColumnRenamed("node", "b"), on="b"
            ).select(F.col("a").alias("node"), "label")
            stepped = (
                nbr.unionByName(labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # 2. pointer jump: label <- label(label); labels are node ids
            # so the self-join always finds the row, but stay safe under
            # coalesce for the (impossible) miss. The right side is
            # re-aliased column-by-column: plain DataFrame.alias keeps the
            # original expression ids on both branches of a self-join and
            # Catalyst can mis-resolve them under complex upstream plans.
            right = stepped.select(
                F.col("node").alias("ptr_node"),
                F.col("label").alias("ptr_label"),
            )
            jumped = stepped.join(
                right, stepped["label"] == right["ptr_node"], "left"
            ).select(
                "node",
                F.coalesce(F.col("ptr_label"), F.col("label")).alias("label"),
            )
            new_labels = _truncate(jumped, tight)

            prev = labels.select(
                F.col("node").alias("prev_node"),
                F.col("label").alias("prev_label"),
            )
            changed = (
                new_labels.join(prev, new_labels["node"] == prev["prev_node"])
                .where(F.col("label") != F.col("prev_label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                out = labels.select("node", F.col("label").alias("component"))
                if tight:
                    # sever the result from the reliable-checkpoint files
                    # BEFORE the finally block may empty their dir: the
                    # final (node, component) frame is two longs per node —
                    # resident is fine even in tight mode, unlike the
                    # per-iteration edge frames
                    out = out.localCheckpoint(eager=True)
                return out
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        if tight:
            _exit_tight_run(edges.sparkSession)


#: Integral-type widening order for the lazy kernel's output schema.
_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    lazy_small: bool = False,
    max_edges: int = 200_000,
    corpus_rows: int | None = None,
    lazy_rows_cap: int = 100_000,
) -> DataFrame:
    """Cluster assignment from near-dup pairs: ``(node, component)`` with
    the canonical (min-id) member as the component id. Keep one doc per
    component via ``component = node``; drop the rest.

    ``lazy_small=True`` (r15): run the small-graph union-find INSIDE the
    plan — a single-task ``mapInPandas`` after ``repartition(1)`` — instead
    of the eager driver path. The eager path (``connected_components``)
    materialises the whole pair pipeline at BUILD time (localCheckpoint +
    count + collect: ~1.9 s of serial build wall in the fused suite at
    sf0.1) before any sibling branch executes; the lazy form defers that
    work to action time where the scheduler overlaps it with everything
    else. Semantics are identical — union-by-min keeps every tree's root
    equal to its component minimum at all times, so the result is
    edge-order independent. The ``repartition(1)`` keeps the upstream pair
    pipeline parallel; only the microseconds-of-CPU union-find runs on the
    one task.

    Scale routing (r16, VERDICT r15 #3): ``corpus_rows`` — a CHEAP
    build-time upper bound on the node count (e.g. the corpus row count
    from parquet footer metadata, ``sources.tables.table_rows``; never a
    ``count()``, which would materialise the pipeline the lazy form
    exists to defer) — routes graphs whose node set could exceed
    ``lazy_rows_cap`` to the distributed path INSTEAD of failing at
    action time. The kernel's memory is O(nodes) <= O(corpus_rows), so
    the gate bounds the one-task state directly. A lazy caller that
    declares no ``corpus_rows`` keeps the loud ``max_edges`` guard as the
    last-resort backstop against silently building a huge single-task
    table.

    Null edges: a pair with a null endpoint carries no cluster
    information and is dropped before routing, so every route returns
    the same rows (neither endpoint of a null pair appears unless a
    non-null pair names it).
    """
    pairs = pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    if lazy_small and corpus_rows is not None:
        if corpus_rows > lazy_rows_cap:
            lazy_small = False  # big graph: distributed loop, not one task
        else:
            # node count bounded by the corpus: the edge-count backstop
            # can only misfire (quadratic pair pipelines are capped
            # upstream by the LSH bucket guards); disable it so a dense
            # small graph degrades to a slower task, never an ERROR
            max_edges = None
    if not lazy_small:
        return connected_components(pairs, src=id_a, dst=id_b)

    import pandas as pd

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    ta = e.schema[0].dataType.simpleString()
    tb = e.schema[1].dataType.simpleString()
    # widen to the common type when the two edge columns differ (ADVICE
    # r15: deriving both output columns from id_a alone misstates the
    # schema for e.g. int/bigint edges)
    if ta == tb:
        t = ta
    elif ta in _INT_WIDTH and tb in _INT_WIDTH:
        t = ta if _INT_WIDTH[ta] >= _INT_WIDTH[tb] else tb
    else:
        raise TypeError(
            f"dedup_clusters(lazy_small=True) needs compatible edge column "
            f"types, got {id_a}: {ta}, {id_b}: {tb}"
        )

    def run(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        n = 0
        for pdf in batches:
            n += len(pdf)
            if max_edges is not None and n > max_edges:
                raise RuntimeError(
                    f"dedup_clusters(lazy_small=True) saw > {max_edges} "
                    "edges — pass corpus_rows (build-time routing) or use "
                    "the default adaptive path for graphs this size"
                )
            for a, b in zip(pdf["a"].to_list(), pdf["b"].to_list()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        # build from the accumulated Python values: Arrow casts them to
        # the declared integral schema exactly
        yield pd.DataFrame(
            {
                "node": list(parent),
                "component": [find(x) for x in parent],
            }
        )

    return e.repartition(1).mapInPandas(run, schema=f"node {t}, component {t}")
