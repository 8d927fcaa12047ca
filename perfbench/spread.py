"""Repeat the benchmark over several seeds and report each end-to-end
metric's median and spread, the distance between its first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--traced]
                                [--out FILE] [workload ...]

Runs use ``run_seconds`` from ``BENCHMARK.json``; ``--traced`` adds one
``--trace 1`` run per workload for the per-layer numbers. ``--out`` writes
every run's result, the machine (CPU count, load average) and the
input generator's digest as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if res.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {res.returncode}:\n{res.stderr[-3000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.monotonic() - t0
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from gen_scaledata import generator_digest

    record: dict = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{len(os.sched_getaffinity(0))}]",
        "generator_sha256": generator_digest(),
        "loadavg_start": list(os.getloadavg()),
        "run_seconds": spec["run_seconds"],
        "seeds": list(range(args.first_seed, args.first_seed + args.runs)),
        "workloads": {},
    }
    bad = 0
    for w in names:
        runs = []
        for seed in record["seeds"]:
            out = run_once(spec, w, seed, 0)
            runs.append(out)
            print(f"# {w} seed={seed} wall={out['wall_s']:.1f}s correct={out['correct']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            s = spread(vals)
            summary[m["name"]] = {"median": statistics.median(vals), "spread": s,
                                  "bound": m["bound"], "unit": m["unit"]}
            flag = "" if m["name"] == "setup_s" or s < m["bound"] / 3 else "  <-- above bound/3"
            bad += bool(flag)
            print(f"{w:22s} {m['name']:14s} median {statistics.median(vals):10.4g} "
                  f"{m['unit']:3s} spread {s:.4f} bound {m['bound']}{flag}")
        entry = {"summary": summary, "runs": runs,
                 "correct": all(r["correct"] for r in runs)}
        if args.traced:
            entry["traced"] = run_once(spec, w, args.first_seed, 1)
        record["workloads"][w] = entry
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
