"""Bloom-prefilter A/B: the incremental dedup-index ops with and without
``bloom_fpp``, on a corpus big enough that the index dwarfs the batch.

The question this answers for the 100 TB design: does the batch-keyed
Bloom prune (operators.bloom) actually convert the per-batch index-side
cost from O(index) to ~O(batch)?  Measured three ways per operator:
wall time (interleaved A/B, min-of-N), the stage-level shuffle-write
bytes the run adds (REST API — the pre-join aggregation's shuffle is
exactly what the prune removes), and the surviving index-row fraction.

Results are decision-identical by construction (pinned by
tests/test_bloom_prefilter.py); this tool measures the PLAN trade only.

Usage:
  python tools/bench_bloom.py --docs-sf 3 --batch 1000 --runs 2 \
      --json-out BLOOM_r12.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import numpy as np

from tern_ep_data_pipeline_spark.operators import bloom
from tern_ep_data_pipeline_spark.operators import dedup_index as di
from tern_ep_data_pipeline_spark.operators.dedup import release_staged
from tern_ep_data_pipeline_spark.session import get_spark
from bench_spill import stage_spill_totals  # noqa: E402  (same tools dir)
from gen_scaledata import gen_documents  # noqa: E402


def _docs_dir(root: str, sf: float) -> str:
    """Documents-only scale corpus, generated with the SAME rng stream the
    full generator uses (gen_documents draws first), so the text model is
    identical to the headline-grid corpora."""
    out = os.path.join(root, f"bloomdocs_sf{sf:g}")
    marker = os.path.join(out, "documents.parquet")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        rng = np.random.Generator(np.random.PCG64([42, int(sf * 1000)]))
        n = gen_documents(sf, out, rng)
        print(f"# generated {n} docs at {out}", file=sys.stderr)
    return out


def _drain_listeners(spark) -> None:
    """Block until the status store has ingested all completed-stage
    events: short cells finish before the async listener bus flushes, and
    an immediate REST poll then under-reads shuffle/spill bytes."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        time.sleep(1.0)


def _materialise(df) -> int:
    """Force EVERY column: a bare ``count()`` lets Catalyst prune the
    index join entirely for the gram/line consumers (their output
    cardinality does not depend on the join), which silently turns the
    baseline cell into a no-op.  Hashing the full row keeps the whole
    plan live and returns a value-checkable digest-count."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: a long SUM of hashes overflows, which ANSI
        # mode (Spark 4 default) turns into an ArithmeticException
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("dig"),
    ).collect()[0]
    return row["n"]


def _timed(fn, spark):
    """(wall_s, d_shuffle_bytes, d_spill_bytes) for one materialised run."""
    _drain_listeners(spark)
    m0, d0, s0 = stage_spill_totals(spark)
    t0 = time.monotonic()
    n = _materialise(fn())
    wall = time.monotonic() - t0
    _drain_listeners(spark)
    m1, d1, s1 = stage_spill_totals(spark)
    release_staged(spark)
    return wall, s1 - s0, (m1 - m0) + (d1 - d0), n


def main() -> None:
    ap = argparse.ArgumentParser()
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scaledata")
    ap.add_argument("--docs-sf", type=float, default=3.0)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--fpp", type=float, default=0.01)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--ops", nargs="+", default=None,
                    help="subset of gram_clean chunk_stats line_clean "
                         "streaming")
    ap.add_argument("--stream-batches", type=int, default=3)
    ap.add_argument("--scratch", default=None)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()
    load_at_start = list(os.getloadavg())

    docs_dir = _docs_dir(root, args.docs_sf)
    scratch = args.scratch or os.path.join(root, "bloom_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    spark = get_spark(
        "bench-bloom",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4052"},
    )
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    max_id = docs.agg({"doc_id": "max"}).collect()[0][0]
    cut = max_id - args.batch + 1
    corpus = docs.where(f"doc_id < {cut}")
    batch = docs.where(f"doc_id >= {cut}")
    n_corpus, n_batch = corpus.count(), batch.count()

    wanted = set(args.ops or (
        "gram_clean", "chunk_stats", "line_clean", "streaming"
    ))
    paths = {k: os.path.join(scratch, k) for k in ("gram", "chunk", "line")}
    t0 = time.monotonic()
    if wanted & {"gram_clean", "streaming"}:
        di.build_gram_index(corpus, paths["gram"], min_tokens=8)
    if "chunk_stats" in wanted:
        di.build_chunk_index(corpus, paths["chunk"], chunk_tokens=10)
    if "line_clean" in wanted:
        di.build_line_index(corpus, paths["line"], min_line_chars=3)
    build_s = time.monotonic() - t0

    ops = {
        "gram_clean": lambda fpp: di.clean_against_gram_index(
            spark, batch, paths["gram"], min_tokens=8, bloom_fpp=fpp
        ),
        "chunk_stats": lambda fpp: di.chunk_stats_against_index(
            spark, batch, paths["chunk"], chunk_tokens=10, bloom_fpp=fpp
        ),
        "line_clean": lambda fpp: di.clean_against_line_index(
            spark, batch, paths["line"], min_line_chars=3, bloom_fpp=fpp
        ),
    }

    # surviving index fraction per key table (one-off, outside the timing)
    survive = {}
    if "gram_clean" in wanted:
        gram_scan = spark.read.parquet(os.path.join(paths["gram"], "grams"))
        gk = di._gram_first_table(batch, "doc_id", "text", 8, 1 << 24)
        survive["gram"] = {
            "index_rows": gram_scan.count(),
            "kept_rows": bloom.prune_index_by_keys(
                gram_scan, ["gram_hash"], gk, args.fpp
            ).count(),
        }
    if "line_clean" in wanted:
        line_scan = spark.read.parquet(os.path.join(paths["line"], "lines"))
        lk = di._line_count_table(batch, "doc_id", "text", "\n", 3)
        survive["line"] = {
            "index_rows": line_scan.count(),
            "kept_rows": bloom.prune_index_by_keys(
                line_scan, ["line_hash"], lk, args.fpp
            ).count(),
        }

    # streaming sink consumer (r12 verdict #5): span_dedup_batch IS the
    # foreachBatch body of span_deduped_stream_sink — K sequential
    # micro-batches against a corpus-seeded gram index, off vs on, each
    # mode on its OWN COPY of the index (batches append to it). The
    # headline number is shuffle bytes per micro-batch, the quantity the
    # prune's O(index)->O(batch) claim is about.
    stream_cell = None
    if "streaming" in wanted:
        from tern_ep_data_pipeline_spark.streaming.curation import (
            span_dedup_batch,
        )

        k = args.stream_batches
        # contiguous id ranges, not modulo: the gram index's occurrence
        # keys require batch ids monotonically above the indexed ids
        span = (args.batch + k - 1) // k
        micro = [
            batch.where(
                f"doc_id >= {cut + i * span} and doc_id < {cut + (i + 1) * span}"
            )
            for i in range(k)
        ]
        modes = {}
        for tag, fpp in (("off", None), ("on", args.fpp)):
            idir = os.path.join(scratch, f"stream_{tag}")
            shutil.copytree(paths["gram"], idir)
            walls, shuffles, digests = [], [], []
            for mb in micro:
                _drain_listeners(spark)
                m0, d0, s0 = stage_spill_totals(spark)
                t0 = time.monotonic()
                out = span_dedup_batch(
                    mb, idir, memory_guard=False, bloom_fpp=fpp
                )
                n = _materialise(out)
                walls.append(round(time.monotonic() - t0, 3))
                _drain_listeners(spark)
                m1, d1, s1 = stage_spill_totals(spark)
                shuffles.append(round((s1 - s0) / 1e6, 1))
                digests.append(n)
                release_staged(spark)
            modes[tag] = {
                "batch_wall_s": walls,
                "batch_shuffle_mb": shuffles,
                "rows": digests,
            }
            print(f"# streaming/{tag}: walls {walls} shuffle_mb {shuffles}",
                  file=sys.stderr)
        assert modes["off"]["rows"] == modes["on"]["rows"], modes
        stream_cell = {
            "n_micro_batches": k,
            "batch_docs": [m.count() for m in micro],
            **{f"{t}_{key}": v for t, cell in modes.items()
               for key, v in cell.items() if key != "rows"},
            "rows_per_batch": modes["on"]["rows"],
        }

    if args.ops:
        ops = {k: v for k, v in ops.items() if k in args.ops}
    cells = {}
    for name, fn in ops.items():
        offs, ons = [], []
        for _ in range(args.runs):  # interleaved A/B
            offs.append(_timed(lambda: fn(None), spark))
            ons.append(_timed(lambda: fn(args.fpp), spark))
        best_off = min(offs, key=lambda t: t[0])
        best_on = min(ons, key=lambda t: t[0])
        assert best_off[3] == best_on[3], (name, best_off[3], best_on[3])
        cells[name] = {
            "off_s": round(best_off[0], 3),
            "on_s": round(best_on[0], 3),
            "off_shuffle_mb": round(best_off[1] / 1e6, 1),
            "on_shuffle_mb": round(best_on[1] / 1e6, 1),
            "off_spill_mb": round(best_off[2] / 1e6, 1),
            "on_spill_mb": round(best_on[2] / 1e6, 1),
            "rows": best_on[3],
        }
        print(f"# {name}: off {best_off[0]:.2f}s/{best_off[1]/1e6:.0f}MB "
              f"on {best_on[0]:.2f}s/{best_on[1]/1e6:.0f}MB", file=sys.stderr)

    out = {
        "metric": "bloom_prefilter_ab",
        "docs_sf": args.docs_sf,
        "n_corpus": n_corpus,
        "n_batch": n_batch,
        "fpp": args.fpp,
        "runs": args.runs,
        "index_build_s": round(build_s, 1),
        "survive": survive,
        "cells": cells,
        "streaming": stream_cell,
        "loadavg_start": load_at_start,
        "loadavg_end": list(os.getloadavg()),
    }
    line = json.dumps(out)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            fh.write(line + "\n")
    print(line)
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
