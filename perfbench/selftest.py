"""Self-test of the benchmark at tiny input sizes.

For each workload it checks that
- an untraced run emits exactly the end-to-end metrics of
  ``BENCHMARK.json``, every one a number, with every output correct;
- a traced run emits exactly the per-layer metrics, every one a number;
- a run against deliberately corrupted oracle answers fails every
  operation (error rate 1.0), so the output check can fail.

    python3 perfbench/selftest.py [workload ...]

Each run starts its own Spark session; on a 4-core machine the whole
self-test takes about fifteen minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def bench(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--size", "tiny", *extra]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {res.returncode}:\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def check_metrics(out: dict, names: set[str], what: str) -> None:
    expect(set(out["metrics"]) == names,
           f"{what}: metrics {sorted(set(out['metrics']) ^ names)} differ from BENCHMARK.json")
    missing = [k for k, m in out["metrics"].items() if not isinstance(m["value"], (int, float))]
    expect(not missing, f"{what}: no value for {missing}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    for w in argv or WORKLOADS:
        out = bench(w, "--trace", "0")
        check_metrics(out, e2e, f"{w} --trace 0")
        expect(out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
               f"{w}: {out['failed']}/{out['attempted']} operations failed")
        out = bench(w, "--trace", "1")
        check_metrics(out, layers, f"{w} --trace 1")
        expect(out["correct"], f"{w} --trace 1: {out['failed']} operations failed")
        out = bench(w, "--trace", "0", "--corrupt-oracle")
        expect(not out["correct"] and out["failed"] == out["attempted"],
               f"{w}: corrupted oracle gave error rate "
               f"{out['failed']}/{out['attempted']}, want 1.0")
        print(f"selftest {w}: ok", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
