"""Streaming match-dedup sink + DSIR scorer evidence cells (r13 verdict
#2/#1, extended for r14 verdict #1/#5).

The match-dedup sink (``streaming.curation.match_dedup_batch`` — the
exact foreachBatch body of ``match_deduped_stream_sink``) has
correctness and exactly-once tests but, unlike the span sink, no
BLOOM/SPILL-style per-micro-batch evidence. This tool seeds the match
index from a corpus prefix, then drives sequential micro-batches with a
configurable duplicate fraction and records per batch: wall, shuffle
bytes, classification counts, append route, index growth.

Two modes:

- default: ``--batches N --batch B`` detailed per-batch cells (the r14
  BLOOM cells; used per-seed for the streaming octave), plus the DSIR
  scorer cells.
- ``--sweep 1000,10000,100000 --stream-docs 100000``: the SAME stream
  of documents is driven through every batch size (duplicate
  construction keys on doc_id alone, so the stream content is
  batch-size independent) — the r14 verdict #1 sweep. Reports docs/s
  and per-batch wall so the fixed per-batch overhead is visible
  against the scaling part. Decision pins, in decreasing strength:
  (a) HARD — the harness-constructed duplicates (exact copies and
  unique-mate nears, chain-free by construction) decide identically
  across every cell; (b) REPORTED — the full decision sets across
  batch sizes, with a counted divergence. (b) cannot be a
  hard equality on this corpus BY THE OPERATOR'S OWN SEMANTICS: the
  intra-batch pass deliberately matches a doc against lower-id
  batch-mates that themselves classified as duplicates (catching
  dup-of-dup chains for better recall), and those mates never enter
  the index — so a chain member whose similarity to the chain ROOT
  has decayed below the verify threshold classifies dup when it
  shares a batch with its intermediate and fresh when it does not.
  The generator plants ~4% near-dups whose source may itself be a
  near-dup (tools/gen_scaledata.py), so chain-tail docs exist; the
  sweep asserts the divergence stays in that tail (<=0.2% of stream
  docs) and prints the count.

The DSIR cell measures the r14 vectorised scorer (hash_mode='fast')
against the per-token portable twin over the same documents through
the real mapInPandas path, repeated so the warm (steady-state) rate is
visible next to the cold one, asserting score parity in-run.

Usage:
  SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEMORY=8g \
      python tools/bench_stream_match.py --dir scaledata/sf3 \
      --seed-docs 50000 --batches 3 --batch 1000 --dup-frac 0.3

Prints one JSON line (merge into BLOOM_r15.json / cite in README).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_spill import stage_spill_totals  # noqa: E402
from tern_ep_data_pipeline_spark.session import get_spark  # noqa: E402

#: Duplicate construction modulus — FIXED so the stream content is a
#: pure function of doc_id, identical across batch sizes (the sweep's
#: decisions-identical pin depends on this).
DUP_MOD = 1000


def _drain(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(1.0)


def _dedup_seed(docs, seed_docs: int):
    """Collapse exact copies to the min-id representative — the index
    contract wants an already-deduplicated seed corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    return (
        docs.where(F.col("doc_id") < seed_docs)
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .where("__r = 1")
        .drop("__r")
        .localCheckpoint()
    )


def _make_stream(docs, seed, lo: int, total: int, dup_frac: float):
    """`total` stream docs with ids [lo, lo+total): dup_frac of them
    copy a seed doc's text (half exact, half with a 2-token suffix ->
    near), keyed ONLY by doc_id so the construction is batch-size
    independent and deterministic.

    Batch-invariance of the DECISIONS requires chain-freedom: the
    sink's intra-batch pass legitimately matches a doc against any
    lower-id batch-mate, INCLUDING mates that themselves classified as
    duplicates (which never enter the index) — so two near-dups of the
    same seed would classify differently same-batch vs cross-batch.
    Exact dups are chain-safe (the lowest-id match is always the seed,
    transitively), so they key on ``doc_id % DUP_MOD``; each NEAR dup
    instead pairs with a UNIQUE seed mate (seed id = stream id - lo),
    so no two stream docs are near each other and every near decision
    resolves against the index alone — identical in every batching."""
    from pyspark.sql import functions as F

    base = seed.groupBy((F.col("doc_id") % DUP_MOD).alias("__k")).agg(
        F.min_by("text", "doc_id").alias("__seed_text")
    )
    mate = seed.select(
        F.col("doc_id").alias("__u"), F.col("text").alias("__mate_text")
    )
    cut = int(dup_frac * DUP_MOD)
    return (
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + total))
        .withColumn("__k", F.col("doc_id") % DUP_MOD)
        .withColumn("__u", F.col("doc_id") - lo)
        .join(F.broadcast(base), "__k", "left")
        .join(F.broadcast(mate), "__u", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % DUP_MOD < cut // 2)
                & F.col("__seed_text").isNotNull(),
                F.col("__seed_text"),
            )
            .when(
                (F.col("doc_id") % DUP_MOD < cut)
                & F.col("__mate_text").isNotNull(),
                F.concat_ws(
                    " ", F.col("__mate_text"), F.lit("zz98"),
                    F.concat(F.lit("zz"), F.col("doc_id")),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .localCheckpoint()
    )


def _build_index(spark, seed, work: str, tag: str):
    """Fresh index from the seed; returns (index_path, build seconds)."""
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        build_dedup_index,
    )

    idx = os.path.join(work, f"midx_{tag}")
    t0 = time.time()
    build_dedup_index(seed, idx)
    build_s = round(time.time() - t0, 3)
    release_staged(spark)
    return idx, build_s


def _drive_batches(spark, stream, lo: int, total: int, batch: int,
                   idx: str, tag: str, compact_every: int = 0):
    """Run the stream through the sink in `batch`-sized slices.
    Returns (per-batch cells, decisions dict doc_id -> (status,
    match_id), route counts). ``compact_every=N`` runs the match-index
    compactor after every N-th batch — the sink's own hook, identity
    rewrite, decision-preserving."""
    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.operators.dedup import release_staged
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        compact_match_index,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        match_dedup_batch,
    )

    sc = spark.sparkContext
    cells = []
    decisions: dict = {}
    routes: dict = {}
    n_batches = (total + batch - 1) // batch
    for b in range(n_batches):
        blo = lo + b * batch
        part = stream.where(
            (F.col("doc_id") >= blo) & (F.col("doc_id") < blo + batch)
        ).localCheckpoint()
        _drain(spark)
        m0, d0, s0 = stage_spill_totals(spark)
        t0 = time.time()
        out = match_dedup_batch(part, idx)
        rows = sorted(map(tuple, out.collect()))
        wall = round(time.time() - t0, 3)
        route = sc.getLocalProperty("tern.match_sink.append_route")
        routes[route] = routes.get(route, 0) + 1
        _drain(spark)
        m1, d1, s1 = stage_spill_totals(spark)
        release_staged(spark)
        counts: dict = {}
        for did, status, mid in rows:
            counts[status] = counts.get(status, 0) + 1
            decisions[did] = (status, mid)
        cells.append(
            {
                "batch_id": b,
                "rows": len(rows),
                "wall_s": wall,
                "shuffle_mb": round((s1 - s0) / 1e6, 1),
                "spill_mb": round(((m1 - m0) + (d1 - d0)) / 1e6, 1),
                "status_counts": counts,
                "append_route": route,
            }
        )
        if compact_every and (b + 1) % compact_every == 0:
            t0 = time.time()
            compact_match_index(spark, idx)
            cells[-1]["compact_s"] = round(time.time() - t0, 3)
        if b < 5 or b == n_batches - 1 or "compact_s" in cells[-1]:
            print(f"# {tag} b{b}: {cells[-1]}", file=sys.stderr)
    return cells, decisions, routes


def _digest(decisions: dict) -> str:
    return hashlib.md5(repr(sorted(decisions.items())).encode()).hexdigest()[
        :16
    ]


def run_dsir_cells(spark, docs, seed, work: str, args) -> dict:
    """DSIR scorer cells: vectorised fast vs per-token portable, on the
    scale corpus and on a heavy-tailed zipf vocabulary."""
    from pyspark.sql import functions as F

    from tern_ep_data_pipeline_spark.operators.dedup import release_staged
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    ratio = os.path.join(work, "dsir_ratio")
    # the corpus cell measures the BASE kernel (r14-comparable) — the
    # sidecar belongs to the zipf artifact and its dedicated cells
    write_dsir_ratio_artifact(seed, seed.where("doc_id % 3 = 0"), ratio)
    score_docs = docs.where(
        F.col("doc_id") < args.seed_docs
    ).localCheckpoint()
    n_score = score_docs.count()
    dsir: dict = {
        "n_docs": n_score,
        "vocab_top_k": args.dsir_vocab_top_k,
        "runs": {},
    }
    sums = {}
    for mode in ("portable", "fast"):
        walls = []
        for _ in range(args.dsir_runs):
            t0 = time.time()
            row = (
                dsir_scored_stream(score_docs, ratio, hash_mode=mode)
                .agg(F.sum("logweight_micro").alias("s"))
                .collect()[0]
            )
            walls.append(round(time.time() - t0, 3))
            release_staged(spark)
        sums[mode] = int(row["s"])
        dsir["runs"][mode] = {
            "wall_s": walls,
            "docs_per_s_best": round(n_score / min(walls)),
        }
        print(f"# dsir {mode}: {dsir['runs'][mode]}", file=sys.stderr)
    dsir["score_sums_equal"] = sums["portable"] == sums["fast"]
    dsir["speedup_fast_over_portable_best"] = round(
        min(dsir["runs"]["portable"]["wall_s"])
        / min(dsir["runs"]["fast"]["wall_s"]),
        2,
    )

    # Second DSIR cell on a HEAVY-TAILED vocabulary (the synthetic
    # corpus has ~31 distinct tokens, so both kernels saturate on
    # Arrow/tokenisation overhead there): zipf(1.3) draw over a 200k
    # vocabulary, deterministic seed — the shape where the portable
    # twin's per-token dict walk actually costs. The zipf cell's ratio
    # artifact is built FROM a zipf-distributed sample (the realistic
    # deployment: the model is trained on the corpus it scores), so
    # the r15 vocab sidecar prewarm covers real vocabulary.
    import numpy as np

    rng = np.random.default_rng(3)
    zvocab = args.dsir_zipf_vocab
    zdocs = args.dsir_zipf_docs
    if not zdocs:  # octave runs repeat the scale cell only
        return dsir
    draw = np.minimum(rng.zipf(1.3, size=zdocs * 54) - 1, zvocab - 1)
    vocab = [f"w{i}" for i in range(zvocab)]
    ztexts = [
        (int(args.seed_docs + i),
         " ".join(vocab[j] for j in draw[i * 54:(i + 1) * 54]))
        for i in range(zdocs)
    ]
    zdf = spark.createDataFrame(
        ztexts, "doc_id long, text string"
    ).repartition(8).localCheckpoint()
    zratio = os.path.join(work, "dsir_ratio_zipf")
    write_dsir_ratio_artifact(
        zdf.where("doc_id % 7 < 5"), zdf.where("doc_id % 7 = 5"), zratio,
        vocab_top_k=args.dsir_vocab_top_k,
    )
    zcell: dict = {
        "n_docs": zdocs,
        "vocab": zvocab,
        "vocab_top_k": args.dsir_vocab_top_k,
        "runs": {},
    }
    zsums = {}
    variants = [("portable", {}), ("fast", {"use_vocab_sidecar": False})]
    if args.dsir_vocab_top_k:
        variants.append(("fast_sidecar", {}))
    for mode, kw in variants:
        walls = []
        for _ in range(args.dsir_runs):
            t0 = time.time()
            row = (
                dsir_scored_stream(
                    zdf, zratio,
                    hash_mode="fast" if mode.startswith("fast") else mode,
                    **kw,
                )
                .agg(F.sum("logweight_micro").alias("s"))
                .collect()[0]
            )
            walls.append(round(time.time() - t0, 3))
            release_staged(spark)
        zsums[mode] = int(row["s"])
        zcell["runs"][mode] = {
            "wall_s": walls,
            "docs_per_s_best": round(zdocs / min(walls)),
        }
        print(f"# dsir-zipf {mode}: {zcell['runs'][mode]}", file=sys.stderr)
    zcell["score_sums_equal"] = len(set(zsums.values())) == 1
    zcell["speedup_fast_over_portable_best"] = round(
        min(zcell["runs"]["portable"]["wall_s"])
        / min(zcell["runs"]["fast"]["wall_s"]),
        2,
    )
    dsir["zipf_vocab_cell"] = zcell

    if args.dsir_vocab_top_k:
        # Task COLD-START cell (r14 verdict #3 — the shape the sidecar
        # targets): a fresh task's FIRST batch pays md5 + insert for
        # every gram it sees; a prewarmed task skips all sidecar-
        # covered grams. In-process (driver-side kernel, no Arrow/
        # scheduler noise), scores pinned integer-equal. End-to-end at
        # small cells the sidecar is NET-NEUTRAL (its load/broadcast/
        # prewarm overhead ≈ its savings; the batch walls are Arrow-
        # bound) — the win is the long-stream steady state where one
        # prewarm amortises over a task's whole input, which this cell
        # isolates.
        import pandas as _pd

        from tern_ep_data_pipeline_spark.streaming.curation import (
            _DsirFastScorer,
            load_dsir_ratio,
            load_dsir_vocab,
        )

        table, zmeta = load_dsir_ratio(spark, zratio)
        grams = load_dsir_vocab(spark, zratio)
        first = _pd.Series([t for _, t in ztexts[:10000]])
        cold_walls, warm_walls, pw_walls = [], [], []
        cold_out = warm_out = None
        for _ in range(args.dsir_runs):
            cold = _DsirFastScorer(table, b"dsir:", zmeta["buckets"])
            t0 = time.time()
            cold_out = cold.score(first)
            cold_walls.append(round(time.time() - t0, 4))
            warm = _DsirFastScorer(table, b"dsir:", zmeta["buckets"])
            t0 = time.time()
            warm.prewarm(grams)
            pw_walls.append(round(time.time() - t0, 4))
            t0 = time.time()
            warm_out = warm.score(first)
            warm_walls.append(round(time.time() - t0, 4))
        assert cold_out.tolist() == warm_out.tolist()
        cell = {
            "first_batch_docs": len(first),
            "sidecar_grams": len(grams),
            "cold_first_batch_s": cold_walls,
            "prewarm_s": pw_walls,
            "prewarmed_first_batch_s": warm_walls,
            "scores_equal": True,
            "first_batch_speedup_best": round(
                min(cold_walls) / min(warm_walls), 2
            ),
        }
        print(f"# dsir-cold-start: {cell}", file=sys.stderr)
        dsir["sidecar_cold_start_cell"] = cell
    return dsir


def main() -> None:
    ap = argparse.ArgumentParser()
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "scaledata"
    )
    ap.add_argument("--dir", default=os.path.join(root, "sf3"))
    ap.add_argument("--seed-docs", type=int, default=50_000)
    ap.add_argument("--batches", type=int, default=3)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--dup-frac", type=float, default=0.3)
    ap.add_argument(
        "--sweep", default=None,
        help="comma-separated batch sizes; drives the SAME --stream-docs "
        "stream through every size and pins the constructed duplicates' "
        "decisions identical (r14 verdict #1)",
    )
    ap.add_argument("--stream-docs", type=int, default=100_000)
    ap.add_argument("--skip-dsir", action="store_true")
    ap.add_argument("--compact-every", type=int, default=0)
    ap.add_argument("--dsir-runs", type=int, default=3)
    ap.add_argument("--dsir-zipf-docs", type=int, default=30_000)
    ap.add_argument("--dsir-zipf-vocab", type=int, default=200_000)
    ap.add_argument("--dsir-vocab-top-k", type=int, default=0)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="stream-match-")
    spark = get_spark(
        "stream-match",
        extra_conf={
            "spark.ui.enabled": "true",
            # the shuffle cells diff a RUNNING total over completed stages;
            # the default 1000-stage UI store evicts mid-sweep on 100-batch
            # cells, making later diffs (and their mean) drift negative —
            # keep every stage resident for the life of the run
            "spark.ui.retainedStages": "100000",
        },
    )
    docs = spark.read.parquet(
        os.path.join(args.dir, "documents.parquet")
    ).select("doc_id", "text")
    seed = _dedup_seed(docs, args.seed_docs)
    n_seed = seed.count()

    result: dict = {
        "metric": "streaming_match_dedup_and_dsir_scorer",
        "dir": args.dir,
        "heap": os.environ.get("SPARK_DRIVER_MEMORY", "(default)"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "(default)"),
        "seed_docs": n_seed,
        "dup_frac": args.dup_frac,
    }

    if args.sweep:
        sizes = [int(s) for s in args.sweep.split(",")]
        total = args.stream_docs
        stream = _make_stream(
            docs, seed, args.seed_docs, total, args.dup_frac
        )
        n_stream = stream.count()
        # the harness-CONSTRUCTED duplicates (chain-free by
        # construction — module docstring pin (a)): exact-branch docs
        # (every DUP_MOD key has a seed representative at these seed
        # sizes) and near-branch docs whose unique seed mate survived
        # the seed's exact-dedup
        seed_ids = {r["doc_id"] for r in seed.select("doc_id").collect()}
        cut = int(args.dup_frac * DUP_MOD)
        constructed = [
            d for d in range(args.seed_docs, args.seed_docs + total)
            if (d % DUP_MOD < cut // 2)
            or (d % DUP_MOD < cut and (d - args.seed_docs) in seed_ids)
        ]
        sweep_cells = []
        all_dec: dict = {}
        for bs in sizes:
            tag = f"bs{bs}"
            idx, build_s = _build_index(spark, seed, work, tag)
            t0 = time.time()
            cells, decisions, routes = _drive_batches(
                spark, stream, args.seed_docs, total, bs, idx, tag,
                compact_every=args.compact_every,
            )
            total_wall = round(time.time() - t0, 3)
            walls = [c["wall_s"] for c in cells]
            all_dec[bs] = decisions
            sweep_cells.append(
                {
                    "batch_docs": bs,
                    "n_batches": len(cells),
                    "stream_docs": n_stream,
                    "seed_build_s": build_s,
                    "total_wall_s": total_wall,
                    "docs_per_s": round(n_stream / total_wall),
                    "batch_wall_mean_s": round(sum(walls) / len(walls), 3),
                    "batch_wall_min_s": min(walls),
                    "batch_wall_max_s": max(walls),
                    "shuffle_mb_mean": round(
                        sum(c["shuffle_mb"] for c in cells) / len(cells), 1,
                    ),
                    "append_routes": routes,
                    "decisions_digest": _digest(decisions),
                }
            )
            print(f"# sweep {tag}: {sweep_cells[-1]}", file=sys.stderr)
        # pin (a): constructed (chain-free) dups identical — HARD
        con_digests = {
            _digest({d: dec[d] for d in constructed if d in dec})
            for dec in all_dec.values()
        }
        assert len(con_digests) == 1, "constructed-dup decisions diverged"
        # pin (b): cross-size divergence counted and bounded to the
        # corpus's near-chain tail (module docstring)
        base_dec = all_dec[sizes[0]]
        divergence = {}
        for bs in sizes[1:]:
            other = all_dec[bs]
            n_diff = sum(
                1 for d, v in base_dec.items() if other.get(d) != v
            )
            divergence[f"bs{sizes[0]}_vs_bs{bs}"] = {
                "n_docs_differing": n_diff,
                "fraction": round(n_diff / max(n_stream, 1), 5),
            }
            assert n_diff <= 0.002 * n_stream, divergence
        result["batch_size_sweep"] = {
            "sizes": sizes,
            "cells": sweep_cells,
            "constructed_dup_decisions_identical": len(con_digests) == 1,
            "n_constructed_dups": len(constructed),
            "cross_size_divergence_chain_tail": divergence,
        }
    else:
        total = args.batches * args.batch
        stream = _make_stream(
            docs, seed, args.seed_docs, total, args.dup_frac
        )
        idx, build_s = _build_index(spark, seed, work, "batches")
        cells, decisions, routes = _drive_batches(
            spark, stream, args.seed_docs, total, args.batch, idx,
            "batches", compact_every=args.compact_every,
        )
        result["batch_docs"] = args.batch
        result["seed_build_s"] = build_s
        result["batches"] = cells
        result["append_routes"] = routes
        result["decisions_digest"] = _digest(decisions)

    if not args.skip_dsir:
        result["dsir_scorer"] = run_dsir_cells(spark, docs, seed, work, args)

    result["loadavg"] = os.getloadavg()[0]
    line = json.dumps(result)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            fh.write(line + "\n")
    print(line)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
