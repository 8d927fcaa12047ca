"""Streaming ExactSubstr span-dedup at spill scale (VERDICT r6 #7).

SPILL_r06 measured the BATCH substring_dedup operator only; this tool runs
the streaming foreachBatch path over the sf10 corpus (500k docs, ~150 MB
text) split into N id-ordered micro-batches under a constrained heap, and
records what a long-running ingest actually needs to know:

- per-batch wall time as the gram index grows (does batch k pay O(batch)
  as designed, or O(corpus-so-far)?),
- per-batch index growth (bytes + files under <index>/grams, reconstructed
  from the append file sets),
- whether memory stays flat across batches: persisted-RDD count and
  storage memory sampled AFTER each batch (``release_staged`` +
  ``localCheckpoint`` discipline — a leak shows as monotone growth).

The micro-batch body is ``streaming.curation.span_dedup_batch`` — the
exact function ``span_deduped_stream_sink`` registers via foreachBatch
(the real-sink wiring itself is pytest-pinned end-to-end in
test_streaming_multimodal); driving it through readStream +
``maxFilesPerTrigger=1`` keeps the streaming engine in the loop while the
instrumentation times each batch.

Usage:
  SPARK_DRIVER_MEMORY=3g SPARK_GRAFT_CPUS=32 \
      python tools/bench_stream_spill.py --dir scaledata/sf10 --batches 10

Prints one JSON line (append to SPILL_r07.json / cite in SCALING.md).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from tern_ep_data_pipeline_spark.session import get_spark


def dir_bytes(path: str) -> tuple[int, int]:
    files = [
        f for f in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(f) and not f.endswith("_SUCCESS") and ".crc" not in f
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


def jvm_heap_used(spark) -> int:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return int(rt.totalMemory() - rt.freeMemory())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="scaledata/sf10")
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--min-tokens", type=int, default=8)
    ap.add_argument(
        "--compact-every",
        type=int,
        default=0,
        help="compact the gram index after every N-th batch (0 = never) — "
        "the dedup_index.compact_gram_index trigger the production sink "
        "wires via span_deduped_stream_sink(compact_every=N)",
    )
    ap.add_argument(
        "--no-memory-guard",
        action="store_true",
        help="disable the plan-time incremental sizing check (to measure "
        "the raw failure mode the guard classifies)",
    )
    ap.add_argument(
        "--dup-frac",
        type=float,
        default=0.0,
        help="fraction of each later batch's documents whose text is an "
        "exact copy of a batch-0 document (deterministic by id) — models "
        "the boilerplate-heavy ingest where every batch re-appends grams "
        "the index already holds, i.e. the append-duplication regime "
        "compaction exists for (the synthetic corpus is ~99%% unique "
        "grams, so --dup-frac 0 exercises pure index growth instead)",
    )
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="stream-spill-")
    spark = get_spark("stream-spill")
    heap_conf = os.environ.get("SPARK_DRIVER_MEMORY", "(default)")
    src_dir = os.path.join(work, "source")
    index = os.path.join(work, "gram_index")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")

    # split the corpus into id-ordered batch files (monotone ids are the
    # gram-index contract); mtimes ordered so FileStreamSource replays the
    # ingest order deterministically
    docs = spark.read.parquet(os.path.join(args.dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    per = (n_docs + args.batches - 1) // args.batches
    os.makedirs(src_dir)
    from pyspark.sql import functions as F

    b0 = docs.where(docs.doc_id < per).select(
        docs.doc_id.alias("__src_id"), docs.text.alias("__src_text")
    )
    for k in range(args.batches):
        part = docs.where(
            (docs.doc_id >= k * per) & (docs.doc_id < (k + 1) * per)
        )
        if args.dup_frac > 0 and k > 0:
            # deterministic by id: doc_id % 1000 < 1000*p copies the text
            # of its batch-0 twin (doc_id % per); ids stay monotone, so
            # the gram-index contract holds while the batch's gram set
            # overlaps the index at rate ~p
            part = (
                part.withColumn("__src_id", F.col("doc_id") % per)
                .join(F.broadcast(b0), "__src_id")
                .select(
                    "doc_id",
                    F.when(
                        F.col("doc_id") % 1000 < int(args.dup_frac * 1000),
                        F.col("__src_text"),
                    ).otherwise(F.col("text")).alias("text"),
                )
            )
        part = part.repartition(4)
        part.write.mode("overwrite").parquet(os.path.join(src_dir, f"b{k:02d}"))
        t = time.time() - (args.batches - k) * 10
        for f in glob.glob(os.path.join(src_dir, f"b{k:02d}", "*")):
            os.utime(f, (t, t))

    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        compact_gram_index,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import span_dedup_batch

    batch_stats: list[dict] = []

    def _process(batch, batch_id: int) -> None:
        # identical to span_deduped_stream_sink's foreachBatch body
        # (including its compact_every trigger), plus instrumentation
        t0 = time.time()
        span_dedup_batch(
            batch, index, "doc_id", "text", min_tokens=args.min_tokens,
            memory_guard=not args.no_memory_guard,
        ).write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")
        sec = round(time.time() - t0, 3)
        compact = None
        if args.compact_every and (batch_id + 1) % args.compact_every == 0:
            tc = time.time()
            compact = compact_gram_index(batch.sparkSession, index)
            compact["sec"] = round(time.time() - tc, 3)
        sc = batch.sparkSession.sparkContext
        idx_bytes, idx_files = dir_bytes(os.path.join(index, "grams"))
        batch_stats.append(
            {
                "batch_id": int(batch_id),
                "rows": batch.count(),
                "sec": sec,
                # span_dedup_batch publishes the plan it chose (dir vs
                # bootstrap) thread-locally — same thread here
                "plan": sc.getLocalProperty("tern.span_dedup.plan"),
                "index_bytes": idx_bytes,
                "index_files": idx_files,
                "persisted_rdds": int(sc._jsc.getPersistentRDDs().size()),
                "heap_used_mb": jvm_heap_used(batch.sparkSession) >> 20,
                **({"compact": compact} if compact else {}),
            }
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "4")  # = files per batch dir (string: int options are ignored)
        .parquet(os.path.join(src_dir, "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    error = None
    try:
        q.awaitTermination()
    except Exception as exc:  # record the classified failure (2g guard row)
        msg = str(exc)
        lines = msg.splitlines() or [type(exc).__name__]
        head = next((ln for ln in lines if "sizing invariant" in ln), lines[0])
        error = {
            "classified": "CurationMemoryError" in msg,
            "head": head.strip()[:400],
        }

    try:
        out_rows = spark.read.parquet(out).count()
    except Exception:
        out_rows = 0
    result = {
        "metric": "streaming_span_dedup_spill",
        "heap": heap_conf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "(default)"),
        "dir": args.dir,
        "n_docs": n_docs,
        "compact_every": args.compact_every or None,
        "memory_guard": not args.no_memory_guard,
        "dup_frac": args.dup_frac,
        "batches": batch_stats,
        "out_rows": out_rows,
        **({"error": error} if error else {}),
        "loadavg": os.getloadavg()[0],
    }
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
