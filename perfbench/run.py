"""Benchmark of the pipeline engine: seeded, oracle-checked workloads.

    python3 perfbench/run.py --workload etl_conditioning --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed`` in a child process
(cached under ``.perfbench/inputs``), starts one Spark session on
``local[<cpus>]``, builds the one-time state, then repeats the workload's
pass closed loop with one client until ``--seconds`` have passed and the
workload's ``min_passes`` ran. The JVM is still compiling hot paths
during the first passes, so runs compare best when each measures the
same number of passes; ``BENCHMARK.json`` sets ``--seconds`` below that
many passes. Every
output is checked; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Per-operation times
and the machine (CPU count, load average, generator digest) go to
``.perfbench/runs/<run>.json``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: wall time of session start plus the one-time state, that
  is the cold first pass (batch) or the match index seed build (stream);
- ``pass_cpu_s``: median CPU seconds of one pass, summed over the driver
  JVM, its Python workers and this process, output checks excluded;
- ``op_cpu_s.p50``: the same for one query (``q_*`` call plus
  ``toPandas``) or one micro-batch (``match_dedup_batch`` plus
  ``collect``);
- ``peak_rss_mb``: peak resident memory of the driver JVM plus this
  process. The heap is touched in full at start, so the figure moves with
  off-heap and Python memory, not with GC timing.

The gate uses CPU time, not wall time, for the steady-state metrics: on
a shared virtual machine the hypervisor steals CPU in bursts (up to 14 s
of the four CPUs' time in one 12 s pass was seen), which moved the median
wall time of a pass by 40% between runs of the same code while its CPU
time moved by a few percent. The wall medians are still reported, as the
per-layer ``wall.pass_s`` and ``wall.op_s.p50``, and in the run file.

``--trace 1`` reports the per-layer metrics (:data:`PER_LAYER`): after
one untraced warm pass it alternates untraced and traced passes
(U T T U ...), takes the layer numbers from the traced ones and the
``wall.*`` medians and ``trace.overhead_pct`` from the untraced ones, and
adds the spans to the run file.

Workloads (``--size tiny`` shrinks every input for the self-test):

- ``etl_conditioning``: six time-series and relational ``queries()``
  entries over events and TPC-H-ish tables at sf0.02 (20k events, 120k
  lineitem);
- ``stream_dedup_append``: 100-document micro-batches, each with 5
  planted exact and 5 near copies of indexed documents, through
  ``match_dedup_batch`` against a match index seeded from 1.5k documents;
  a pass is one batch and one ``compact_match_index``;
- ``curation_batch``: the LLM-curation entries over 5k documents and 2k
  embeddings. Runnable, but not in ``BENCHMARK.json``: its per-seed
  oracle and its passes do not fit the benchmark's time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DIR = os.path.join(ROOT, ".perfbench")

#: name -> unit of the end-to-end metrics (``--trace 0``).
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_s.p50": "s",
    "peak_rss_mb": "MB",
}

#: name -> unit of the per-layer metrics (``--trace 1``). Per-pass values
#: are medians over the traced passes; ``op.*`` are means per timed
#: operation (query or micro-batch).
SELF_LAYERS = ("plans", "sources", "exec", "streaming", "dedup_index", "harness")
PER_LAYER = {
    "wall.pass_s": "s",
    "wall.op_s.p50": "s",
    "session.start_s": "s",
    "build.first_s": "s",
    "build.s": "s",
    "build.py4j_calls": "count",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_hit_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "op.py4j_calls": "count",
    "op.jobs": "count",
    "op.shuffle_write_bytes": "bytes",
    "index.files": "count",
    "index.files_per_batch": "count",
    "index.bytes_written_per_batch": "bytes",
    "index.bytes_per_doc": "bytes",
    "index.compact_bytes_rewritten": "bytes",
    "index.compact_share_pct": "%",
    **{f"self.{layer}_pct": "%" for layer in SELF_LAYERS},
    "trace.overhead_pct": "%",
}

WORKLOADS = ("etl_conditioning", "stream_dedup_append", "curation_batch")


def make_workload(name: str, size: str):
    import workloads as w

    tiny = size == "tiny"
    if name == "etl_conditioning":
        return w.BatchWorkload("relational", 0.002 if tiny else 0.02, w.ETL_QUERIES)
    if name == "curation_batch":
        return w.BatchWorkload("text", 0.004 if tiny else 0.1, w.CURATION_QUERIES)
    return w.StreamWorkload(sf=0.02 if tiny else 0.06, batch=40 if tiny else 100)


def _median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def _prepare_inputs(wl, cache: str, seed: int) -> str:
    """Generate the inputs and oracle answers in a child process, so this
    process's memory high-water mark is the workload's alone."""
    cmd = [sys.executable, os.path.join(HERE, "inputs.py"), "--cache", cache,
           "--group", wl.group, "--seed", str(seed), "--sf", str(wl.sf),
           "--batch", str(wl.batch), "--oracle", *wl.oracle_names]
    for _ in range(2):  # generation is idempotent; a crashed child is retried once
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if res.returncode == 0:
            return res.stdout.strip().splitlines()[-1]
        print(f"perfbench: input generation exited {res.returncode}:\n{res.stderr[-2000:]}",
              file=sys.stderr)
    raise RuntimeError("input generation failed twice")


def _peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _medians(passes) -> dict:
    """Wall and CPU medians per pass and per timed operation, over the
    passes and operations that succeeded."""
    ok_passes = [p for p in passes if p.ok]
    ok_ops = [op for p in passes for op in p.ops if op.ok and op.latency]
    return {
        "pass_s": _median([p.wall_s for p in ok_passes]),
        "op_s.p50": _median([op.s for op in ok_ops]),
        "pass_cpu_s": _median([p.cpu_s for p in ok_passes]),
        "op_cpu_s.p50": _median([op.cpu_s for op in ok_ops]),
    }


def end_to_end(setup_s: float, passes, rss_mb: float) -> dict:
    return {"setup_s": setup_s, **_medians(passes), "peak_rss_mb": rss_mb}


def per_layer(tracer, session_s: float, setup: dict, passes, teardown: dict,
              nproc: int) -> dict:
    traced = [p for p in passes if p.traced and p.ok]
    untraced = [p for p in passes[1:] if not p.traced and p.ok]

    def med(fn) -> float | None:
        return _median([fn(p) for p in traced])

    def ops_mean(key: str) -> float | None:
        vals = [op.counters.get(key, 0) for p in traced for op in p.ops if op.latency]
        return sum(vals) / len(vals) if vals else None

    def build_py4j(p) -> int:
        spans = tracer.spans[p.spans[0]:p.spans[1]]
        return sum(s["py4j_end"] - s["py4j_start"] for s in spans if s["name"] == "build")

    def self_pct(p, layer: str) -> float:
        spans = tracer.spans[p.spans[0]:p.spans[1]]
        pass_s = spans[0]["end"] - spans[0]["start"]
        return 100.0 * tracer.self_times(spans).get(layer, 0.0) / pass_s

    def hit_ratio(p) -> float:
        calls = p.counters["sources.load_calls"]
        return p.counters["sources.load_hits"] / calls if calls else 0.0

    def compact_ops(p):
        return [op for op in p.ops if op.name == "compact"]

    is_stream = any(compact_ops(p) for p in traced)
    wall = _medians(untraced)
    out = {
        "wall.pass_s": wall["pass_s"],
        "wall.op_s.p50": wall["op_s.p50"],
        "session.start_s": session_s,
        "build.first_s": setup["build_first_s"],
        "build.s": med(lambda p: sum(op.build_s for op in p.ops)),
        "build.py4j_calls": med(build_py4j),
        "sources.load_calls": med(lambda p: p.counters["sources.load_calls"]),
        "sources.load_s": med(lambda p: p.counters["sources.load_s"]),
        "sources.load_hit_ratio": med(hit_ratio),
        **{
            f"catalyst.{ph}_s": med(
                lambda p, ph=ph: sum(op.counters.get(f"catalyst.{ph}_s", 0.0) for op in p.ops)
            )
            for ph in ("analysis", "optimization", "planning")
        },
        "exec.s": med(lambda p: sum(op.exec_s for op in p.ops)),
        **{
            f"exec.{k}": med(lambda p, k=k: p.counters[f"exec.{k}"])
            for k in ("jobs", "stages", "tasks", "task_busy_s",
                      "shuffle_write_bytes", "spill_bytes")
        },
        "exec.core_util": med(lambda p: p.counters["exec.task_busy_s"] / (p.wall_s * nproc)),
        "op.py4j_calls": ops_mean("py4j_calls"),
        "op.jobs": ops_mean("exec.jobs"),
        "op.shuffle_write_bytes": ops_mean("exec.shuffle_write_bytes"),
        "index.files": teardown.get("index.files", 0),
        "index.files_per_batch": ops_mean("index.files_added") if is_stream else 0,
        "index.bytes_written_per_batch": ops_mean("index.bytes_added") if is_stream else 0,
        "index.bytes_per_doc": (
            teardown["index.bytes"] / teardown["index.docs"] if is_stream else 0
        ),
        "index.compact_bytes_rewritten": _median([
            op.counters["index.compact_bytes_rewritten"]
            for p in traced for op in compact_ops(p)
        ]) if is_stream else 0,
        "index.compact_share_pct": med(
            lambda p: 100.0 * sum(op.s for op in compact_ops(p)) / p.wall_s
        ),
        **{f"self.{layer}_pct": med(lambda p, layer=layer: self_pct(p, layer))
           for layer in SELF_LAYERS},
        "trace.overhead_pct": (
            100.0 * (_median([p.wall_s for p in traced]) / _median([p.wall_s for p in untraced]) - 1.0)
            if traced and untraced else None
        ),
    }
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test inputs that run in seconds")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="check against deliberately wrong answers (self-test)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    for need in ("__spark_entry__.py", "tools/gen_scaledata.py",
                 "tern_ep_data_pipeline_spark/session.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/; run from a "
                  "full checkout of the repository", file=sys.stderr)
            return 2

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()

    import workloads
    from tracing import Tracer

    wl = make_workload(args.workload, args.size)
    in_dir = _prepare_inputs(wl, os.path.join(BENCH_DIR, "inputs"), args.seed)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(BENCH_DIR, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(nproc),
    })
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    from tern_ep_data_pipeline_spark.session import get_spark

    tracer = Tracer(run_id)
    if args.trace:
        tracer.install()
        tracer.enabled = True
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = get_spark(
                "perfbench",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf={
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    # a heap touched in full at start keeps the JVM's
                    # resident size from following GC timing
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(spark, in_dir, work, tracer, args.corrupt_oracle)
        if args.trace:
            from tracing import StatusCounters

            with tracer.uncounted():
                ctx.status = StatusCounters(spark)
        t1 = time.perf_counter()
        with tracer.span("setup"):
            setup = wl.setup(ctx)
        setup_s = session_s + time.perf_counter() - t1 - ctx.check_s

        passes = []
        min_passes = 5 if args.trace else wl.min_passes
        deadline = time.perf_counter() + args.seconds
        while not wl.exhausted():
            # traced runs: one untraced warm pass, then U T T U so traced
            # and untraced passes see the same drift
            tracer.enabled = bool(args.trace) and (len(passes) - 1) % 4 in (1, 2)
            passes.append(wl.run_pass(ctx))
            if time.perf_counter() >= deadline and len(passes) >= min_passes:
                break
        tracer.enabled = bool(args.trace)
        teardown = wl.teardown(ctx)
        rss_mb = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)

    ops = setup["ops"] + [op for p in passes for op in p.ops]
    failed = [op for op in ops if not op.ok]
    if args.trace:
        values = per_layer(tracer, session_s, setup, passes, teardown, nproc)
        units = PER_LAYER
    else:
        values = end_to_end(setup_s, passes, rss_mb)
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    box = {
        "nproc": nproc,
        "spark_master": f"local[{nproc}]",
        "loadavg_start": list(load_start),
        "seed": args.seed,
        "size": args.size,
        "inputs": in_dir,
    }
    with open(os.path.join(in_dir, "MANIFEST.json")) as fh:
        box["generator_sha256"] = json.load(fh)["generator_sha256"]
    # per-operation build/exec split over the measured passes
    split: dict[str, dict[str, list[float]]] = {}
    for p in passes:
        for op in p.ops:
            if op.ok and op.latency:
                key = "batch" if op.name.startswith("batch_") else op.name
                d = split.setdefault(key, {"build_s": [], "exec_s": []})
                d["build_s"].append(op.build_s)
                d["exec_s"].append(op.exec_s)
    split = {n: {k: _median(v) for k, v in d.items()} for n, d in split.items()}
    op_rows = [(-1, op) for op in setup["ops"]]
    op_rows += [(i, op) for i, p in enumerate(passes) for op in p.ops]
    record = {
        "workload": args.workload,
        "box": box,
        "metrics": metrics,
        "split": split,
        "ops": [{"pass": i, "name": op.name, "ok": op.ok, "s": op.s, "build_s": op.build_s,
                 "exec_s": op.exec_s, "error": op.error} for i, op in op_rows],
        "passes": [{"wall_s": p.wall_s, "cpu_s": p.cpu_s, "steal_s": p.steal_s,
                    "traced": p.traced, "ok": p.ok} for p in passes],
    }
    runs_dir = os.path.join(BENCH_DIR, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    tracer.dump(os.path.join(runs_dir, f"{run_id}.json"), record)

    for op in failed:
        print(f"FAILED {op.name}: {op.error}", file=sys.stderr)
    for name, d in split.items():
        print(f"#   {name:32s} build {d['build_s']:.4f} s  exec {d['exec_s']:.4f} s",
              file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} nproc={nproc} passes={len(passes)} "
          f"error_rate={len(failed) / len(ops):.4f} ({len(failed)}/{len(ops)})",
          file=sys.stderr)
    for k, m in metrics.items():
        print(f"#   {k:32s} {m['value']!s:>24} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
