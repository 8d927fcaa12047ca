"""Scaling-curve bench over self-generated scale factors
(tools/gen_scaledata.py), answering the question the per-round bench at
a single sf cannot: does each operator grow ~linearly in input size, or
is something super-linear hiding below sf0.1?

Two query sets:
- ``--queries`` (default: the six heaviest kernels) — the deep set.
- ``--headline`` (VERDICT r10 #3): ALL 17 headline queries from
  bench.py, the direct per-query evidence for the 100x-scale question.

Per (query, sf): min-of-N wall clock, staged caches released between
runs (same no-cache methodology as bench.py). Emits one JSON line per
query with sec-per-sf ratios, a fitted log-log slope, and the MARGINAL
exponent between the two largest sfs (the scale-relevant number — small
sfs are constant-overhead-dominated). Queries whose marginal exponent
exceeds ``--max-exponent`` (default 1.1) are flagged, and the tool
EXITS NON-ZERO listing them — a superlinear headline query fails the
run, it doesn't just get printed.

Usage:
  python tools/bench_scaling.py [--dirs scaledata/sf0.1 scaledata/sf1 scaledata/sf3] [--headline]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import __spark_entry__ as entrymod
from tern_ep_data_pipeline_spark.operators.dedup import release_staged
from tern_ep_data_pipeline_spark.session import get_spark
from gen_scaledata import check_manifest

#: Queries that are LINEAR in corpus size by definition — their marginal
#: exponent hovers around 1.0, so the default 1.1 gate (meant to catch
#: ACCIDENTAL superlinearity) flakes on measurement noise. Each gets a
#: wider documented gate instead of an exemption: genuine quadratic
#: behaviour still fails it.
LINEAR_BY_DESIGN = {
    # brute-force cosine top-k is Θ(corpus) per probe — the IVF/LSH
    # variants are the sub-linear scale path (operators/similarity.py)
    "ann_cosine_topk": 1.25,
}

HEAVY = [
    "conditioned_blocks",
    "doc_winnow_fingerprint",
    "minhash_dedup",
    "simhash_pairs",
    "ivf_pq_rerank",
    "llm_curation_suite",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scaledata")
    ap.add_argument(
        "--dirs",
        nargs="+",
        default=[os.path.join(root, d) for d in ("sf0.1", "sf0.3", "sf1")],
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", nargs="+", default=HEAVY)
    ap.add_argument(
        "--headline",
        action="store_true",
        help="bench ALL 17 bench.py headline queries (VERDICT r10 #3)",
    )
    ap.add_argument(
        "--max-exponent",
        type=float,
        default=1.1,
        help="fail (exit 1) if any query's marginal exponent between the "
        "two largest sfs exceeds this",
    )
    ap.add_argument("--allow-manifest-mismatch", action="store_true")
    args = ap.parse_args()
    if args.headline:
        from bench import HEADLINE

        args.queries = list(HEADLINE)

    if not args.allow_manifest_mismatch:
        for d in args.dirs:
            check_manifest(d)

    sfs = [
        float(os.path.basename(d.rstrip("/")).removeprefix("sf")) for d in args.dirs
    ]
    if len(sfs) < 2:
        raise SystemExit(
            "need at least two --dirs to fit a scaling exponent"
        )
    # the marginal gate reads the LAST two entries as the two largest
    # sfs — sort, so an unordered --dirs can't flip the exponent's sign
    order = sorted(range(len(sfs)), key=lambda i: sfs[i])
    args.dirs = [args.dirs[i] for i in order]
    sfs = [sfs[i] for i in order]
    spark = get_spark("bench-scaling")
    out: dict[str, dict] = {}
    flagged: list[str] = []
    for name in args.queries:
        fn = getattr(entrymod, f"q_{name}")
        secs: list[float] = []
        rows: list[int] = []
        for d in args.dirs:
            runs = []
            for _ in range(args.runs):
                t0 = time.time()
                n = fn(spark, d).count()
                runs.append(time.time() - t0)
                release_staged(spark)
            secs.append(round(min(runs), 3))
            rows.append(n)
            print(f"# {name} @ {d}: {secs[-1]:.2f}s ({n} rows)", file=sys.stderr)
        # least-squares slope of log(sec) vs log(sf): the scaling exponent
        import math

        xs = [math.log(s) for s in sfs]
        ys = [math.log(max(s, 1e-3)) for s in secs]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        # marginal exponent over the two LARGEST sfs: the global fit is
        # dragged sub-linear by constant overhead at small sf, so the
        # last segment is the honest 100x-extrapolation number
        marginal = math.log(max(secs[-1], 1e-3) / max(secs[-2], 1e-3)) / math.log(
            sfs[-1] / sfs[-2]
        )
        out[name] = {
            "sf": sfs,
            "sec": secs,
            "rows": rows,
            "slope": round(slope, 2),
            "marginal_exponent": round(marginal, 2),
        }
        # widen (never narrow) the user's gate for Θ(n)-by-design
        # queries: max() keeps an explicit looser --max-exponent in force
        gate = max(args.max_exponent, LINEAR_BY_DESIGN.get(name, 0.0))
        if marginal > gate:
            out[name]["gate"] = gate
            flagged.append(f"{name} ({marginal:.2f} > gate {gate})")
            out[name]["flagged_superlinear"] = True
        print(json.dumps({"query": name, **out[name]}))
    spark.stop()
    if flagged:
        raise SystemExit(
            f"SUPERLINEAR: marginal exponent over its gate for "
            f"{flagged} — a 100x scale-up amplifies these queries "
            "superlinearly; investigate before standing behind the curve"
        )


if __name__ == "__main__":
    main()
