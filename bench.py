"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local Spark.

Prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Methodology: each headline query runs four times at the target scale
factor and the fastest run is reported (per query); extended queries run
twice. The first execution of a query shape on a cold JVM pays 2-3 s of
one-shot JIT/codegen/analysis cost that at small scale factors swamps the
data-processing time the metric is meant to track, and concurrent machine
load adds multi-second outliers (observed round-over-round swings of
±50% per query on identical code) — min-of-N is the steady-state
estimator least sensitive to both. Totals stay comparable with earlier
best-of-2 rounds: more runs only tighten the same floor. No
DataFrame/table caching is used — every timed run re-scans the parquet
inputs.

Cross-round comparisons MUST go through the per-query floor table in
README.md ("Per-query floor table"): it records each query's r1 floor,
the r6 quiet-box floor, and composition changes (pricing_summary
absorbed the q17 small-quantity branch in r7 — its +0.5 s is added
work, not regression). Box state caveat (measured r8): quiet loadavg +
warm page cache are necessary but NOT sufficient — a long-idle box
under-clocks and reads 15-30% slow on every query; the floor only
reproduces on a run preceded by sustained load (see the README
round-8 addendum).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from tern_ep_data_pipeline_spark.session import get_spark

#: Headline queries: one per major operator family (scan-agg, joins, top-k,
#: time-series conditioning, windows, dedup, text, similarity).
#: FROZEN for round-over-round comparability (BENCH_r01 = 11.73 s total):
#: names resolve to the q_* functions directly, independent of the (since
#: consolidated) queries() registry.
HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "top_customers",
    "grid_regularise",
    "tumbling_30min",
    "storage_lag",
    "last_valid_stats",
    "status_collation",
    "conditioned_blocks",
    "exact_dedup_docs",
    "doc_quality",
    "minhash_dedup",
    "ann_cosine_topk",
    "profile_storage",
    "returned_revenue_top",
    "priority_runs",
]

#: Extended section: heavy queries added after the headline set was frozen.
#: Reported separately so the headline total stays round-over-round
#: comparable; same best-of-2 methodology.
EXTENDED = [
    "doc_winnow_fingerprint",  # portable fps + MOSS containment suite (oracle-checked)
    "doc_winnow_fast",  # numpy Rabin-Karp mode (the 100 TB kernel)
    "simhash_pairs",
    "asof_click_attribution",
    "llm_curation_suite",  # minhash pairs -> connected components + sampling/pii/tfidf
    "ivf_pq_rerank",  # PQ train+encode+coarse-probe+ADC+exact re-rank
    "quality_filter",  # weak labels -> bounded-sample logistic fit -> fused score+filter scan
    "doc_profile_a",  # per-doc profile half A: token/quality/lang/bpe/chunk/exact-dup
    "doc_profile_b",  # per-doc profile half B: unigram/qf/line-dedup/span-dedup
    "embedding_near_dup",  # pair listing + SemDeDup keep/drop (shared staged base)
    "substring_dedup",  # ExactSubstr span removal, fast Rabin-Karp mode (r6)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    # parse the quiet gate BEFORE the many-minute run: a malformed value
    # must fail in under a second, not after the artifact is computed
    # but before it prints (review r12)
    quiet_gate_env = os.environ.get("SPARK_GRAFT_BENCH_QUIET_GATE")
    quiet_gate = float(quiet_gate_env) if quiet_gate_env else None
    spark = get_spark("bench")

    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    # concurrent machine load is the dominant round-over-round noise source
    # (observed ±50% swings on identical code); record it so a slow artifact
    # is attributable to the box, not the code
    load_start = os.getloadavg()
    load_samples: list[float] = []
    mhz_samples: list[float] = []

    def _cpu_mhz() -> float | None:
        """Mean core clock from /proc/cpuinfo (None when unavailable)."""
        try:
            with open("/proc/cpuinfo") as fh:
                vals = [
                    float(line.split(":")[1])
                    for line in fh
                    if line.startswith("cpu MHz")
                ]
            return round(sum(vals) / len(vals), 1) if vals else None
        except (OSError, ValueError, ZeroDivisionError):
            return None

    def _governor() -> str:
        # record the REASON when unreadable, not a bare null (VERDICT
        # r10 #6): cross-box comparisons need to know it was checked
        path = "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor"
        try:
            with open(path) as fh:
                return fh.read().strip()
        except OSError:
            return (
                "unavailable (no cpufreq sysfs)"
                if not os.path.exists(path)
                else "unavailable (cpufreq sysfs unreadable)"
            )

    # WARM-UP LOAD PHASE (VERDICT r9 #5 / README r8 addendum): a long-idle
    # box under-clocks and reads 15-30% slow on EVERY query; the floor only
    # reproduces after sustained load. Burn all executor threads with
    # throwaway JVM work until the clocks are warm, before any timed run.
    warmup_s = float(os.environ.get("SPARK_GRAFT_BENCH_WARMUP_S", "10"))
    t_w = time.time()
    while time.time() - t_w < warmup_s:
        # bit_xor: order-independent and overflow-free under ANSI mode
        spark.range(500_000_000).selectExpr("bit_xor(xxhash64(id))").collect()
    mhz_after_warmup = _cpu_mhz()

    # PAGE-CACHE WARM-READ (VERDICT r13 #5): a cold page cache — e.g.
    # right after a multi-GB scale-data regeneration — inflates the
    # first read of each input 1.5-1.6x (measured r13 on the six
    # doc/embedding readers) and the loadavg gate is blind to it. Read
    # every input file's bytes once, untimed, so the timed runs start
    # from a warm cache by construction instead of by luck. Raw byte
    # reads (not spark.read) on purpose: they warm the cache without
    # caring about schema quirks like events' nanos timestamps.
    t_c = time.time()
    warm_bytes = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while chunk := fh.read(1 << 22):
                        warm_bytes += len(chunk)
            except OSError:
                pass
    cache_warm_s = round(time.time() - t_c, 3)

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compiles() -> int:
        """Generated classes compiled so far in this JVM: the misses of
        Spark's generated-code cache."""
        return codegen.METRIC_COMPILATION_TIME().getCount()

    def time_set(
        names: list[str], n_runs: int = 2
    ) -> tuple[dict[str, float], dict[str, float], dict[str, dict[str, float]]]:
        """Per-query (min-of-N, min-of-first-2, build/exec split) — the
        second value keeps totals comparable with rounds benched before the
        min-of-4 switch (2026-08-13, commit 6b5e314): run order is
        identical, so min-of-first-2 IS what best-of-2 would have reported.

        The split (r16, VERDICT r15 #7) is ADDITIVE instrumentation: the
        timed window per run is unchanged (t0 .. count() returns); a single
        intermediate timestamp after the q_* builder returns divides it into
        ``build_s`` (driver-side plan construction) and ``exec_s`` (job
        execution), reported for the run that achieved the min total — at
        sf0.1 the headline queries are overhead-bound (the r15 scaling block:
        8 cores beat 32), so without this split driver-side wins are
        invisible in the wall-clock number. ``codegen_compiles`` counts the
        generated classes that run compiled, read just outside the timed
        window: a warm run compiles 0, so a generated-code cache too small
        for the query mix shows as a non-zero count."""
        out: dict[str, float] = {}
        out2: dict[str, float] = {}
        split: dict[str, dict[str, float]] = {}
        for name in names:
            load_samples.append(os.getloadavg()[0])
            mhz = _cpu_mhz()
            if mhz is not None:
                mhz_samples.append(mhz)
            fn = getattr(entrymod, f"q_{name}")
            runs = []
            builds = []
            compiles = []
            for _ in range(n_runs):
                c0 = _compiles()
                t0 = time.time()
                df = fn(spark, sf_dir)
                t_built = time.time()
                n = df.count()
                runs.append(time.time() - t0)
                builds.append(t_built - t0)
                compiles.append(_compiles() - c0)
                # each timed run owns its caches: no cross-run cache reuse
                # (the doc'd no-caching methodology), no storage pile-up
                release_staged(spark)
            best = min(range(n_runs), key=runs.__getitem__)
            out[name] = round(runs[best], 3)
            out2[name] = round(min(runs[:2]), 3)
            split[name] = {
                "build_s": round(builds[best], 3),
                "exec_s": round(runs[best] - builds[best], 3),
                "codegen_compiles": compiles[best],
            }
            print(
                f"# {name}: {out[name]:.2f}s best-of-{len(runs)} ({n} rows)",
                file=sys.stderr,
            )
        return out, out2, split

    timings, timings2, split_h = time_set(HEADLINE, n_runs=4)
    extended, _, split_e = time_set(EXTENDED)

    # quiet-run during-load gate (VERDICT r11 #7): when
    # SPARK_GRAFT_BENCH_QUIET_GATE is set (the quiet-twin methodology),
    # the artifact records the gate and whether it held; a failed gate
    # exits 3 so the runner re-runs the twin instead of committing it.
    # CALIBRATION (measured r12): the bench's OWN during_max is
    # 8.5-10.5 on this box (three clean-start runs: 8.49 r11, 8.89 and
    # 10.49 r12, ps showing zero foreign CPU consumers) — the 1-min
    # loadavg legitimately climbs toward the burst concurrency during
    # sustained multi-query execution on local[32], so r11's reading of
    # 8.49 as contamination was wrong. The gate exists to catch a
    # foreign heavy process JOINING mid-run (which adds its own
    # threads on top of the plateau): set it ~2x the self-load plateau
    # (16 on this box). Foreign STEADY load is already screened by the
    # loadavg_start < 1 precondition, sampled before the warm-up burn.
    during_max = round(max(load_samples), 2)
    quiet_gate_passed = (
        None if quiet_gate is None else during_max <= quiet_gate
    )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extended": extended,
                "sf": sf,
                # methodology bridge: min-of-4 since 2026-08-13 (r3);
                # best_of_2 uses the first two runs, directly comparable
                # with BENCH_r01/BENCH_r02 totals
                "value_best_of_2": round(sum(timings2.values()), 3),
                "queries_best_of_2": timings2,
                # ADDITIVE build/exec split (r16): same timed window, one
                # extra timestamp between builder return and count() — the
                # driver-overhead attribution the sf0.1 wall-clock cannot
                # show (see time_set docstring)
                "queries_split": {**split_h, **split_e},
                # box load context: loadavg_start is sampled BEFORE the
                # warm-up burn — it is the foreign-load attribution
                # signal. The during-samples have ALWAYS included
                # bench's own 32-thread load (and now the warm-up's
                # tail); compare rounds on loadavg_start, use
                # during-max only to spot a mid-run intruder spike far
                # above the self-load plateau.
                "loadavg_start": [round(v, 2) for v in load_start],
                "loadavg_during_max": during_max,
                "loadavg_during_mean": round(
                    sum(load_samples) / len(load_samples), 2
                ),
                "quiet_gate": quiet_gate,
                "quiet_gate_passed": quiet_gate_passed,
                # power state (VERDICT r9 #5): a long-idle box under-clocks
                # 15-30%; these fields make that confound visible in the
                # artifact instead of a README caveat
                "cpu_governor": _governor(),
                "cache_warmed": True,
                "cache_warm_bytes": warm_bytes,
                "cache_warm_s": cache_warm_s,
                "warmup_s": warmup_s,
                "cpu_mhz_after_warmup": mhz_after_warmup,
                "cpu_mhz_during": (
                    {
                        "min": round(min(mhz_samples), 1),
                        "mean": round(sum(mhz_samples) / len(mhz_samples), 1),
                        "max": round(max(mhz_samples), 1),
                    }
                    if mhz_samples
                    else None
                ),
            }
        )
    )
    spark.stop()
    if quiet_gate_passed is False:
        print(
            f"# QUIET GATE FAILED: loadavg_during_max {during_max} > "
            f"gate {quiet_gate} — a foreign load contaminated the run; "
            "re-run the quiet twin in a cleaner window",
            file=sys.stderr,
        )
        sys.exit(3)


if __name__ == "__main__":
    main()
