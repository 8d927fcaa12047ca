"""The benchmark's workloads.

A workload runs in one Spark session. ``setup`` builds its one-time state
(a cold first pass, or the match index seed); ``run_pass`` runs one fixed
cycle of operations and is repeated, closed loop with one client, until
the measuring time is up. Every operation's output is checked outside
its timed window; a failed or wrong operation counts as failed and its
time enters no latency sample.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import inputs
from tracing import StatusCounters, Tracer, catalyst_phases

#: Reference-core time-series and relational entries of ``queries()``.
ETL_QUERIES = [
    "conditioned_blocks", "dedupe_suite", "unit_met_suite", "status_collation",
    "pricing_summary", "region_revenue",
]

#: LLM-curation entries of ``queries()``.
CURATION_QUERIES = [
    "llm_curation_suite", "doc_winnow_fingerprint", "doc_profile_a",
    "doc_profile_b", "minhash_dedup_portable", "simhash_pairs_portable",
    "embedding_near_dup",
]


@dataclass
class Op:
    """One timed operation: a query, a micro-batch or a compaction."""

    name: str
    ok: bool = False
    s: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0
    error: str = ""
    latency: bool = True  # enters the latency percentiles when ok
    counters: dict = field(default_factory=dict)


@dataclass
class Pass:
    ops: list
    wall_s: float  # excludes output checks
    traced: bool
    counters: dict = field(default_factory=dict)
    spans: tuple = (0, 0)  # index range of this pass's spans in the tracer
    cpu_s: float = 0.0  # engine CPU seconds, output checks excluded
    steal_s: float = 0.0

    @property
    def ok(self) -> bool:
        return all(op.ok for op in self.ops)


class Context:
    """What a workload needs from the run: the session, its inputs, the
    tracer and a work directory."""

    def __init__(self, spark, in_dir: str, work_dir: str, tracer: Tracer,
                 corrupt_oracle: bool) -> None:
        self.spark = spark
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.corrupt_oracle = corrupt_oracle
        self.status: StatusCounters | None = None
        self.check_s = 0.0
        self.check_cpu_s = 0.0
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()

    def counters(self) -> dict:
        """Cumulative layer counters (traced passes only)."""
        if not self.tracer.enabled:
            return {}
        with self.tracer.uncounted():
            out = {f"exec.{k}": v for k, v in self.status.read().items()}
        out["py4j_calls"] = self.tracer.py4j_calls
        out.update({f"sources.load_{k}": v for k, v in self.tracer.loads.items()})
        return out

    def check(self, fn):
        """Run an output check outside the timed window."""
        t0 = time.perf_counter()
        c0 = _self_cpu()
        with self.tracer.span("check"):
            try:
                return fn()
            finally:
                self.check_s += time.perf_counter() - t0
                self.check_cpu_s += _self_cpu() - c0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process (output checks
        excluded), the driver JVM and the JVM's Python workers."""
        return _self_cpu() - self.check_cpu_s + _tree_cpu(self.jvm_pid)


def _self_cpu() -> float:
    t = os.times()
    return t.user + t.system


def _tree_cpu(root: int) -> float:
    """User+system seconds of a process and its descendants, including
    reaped children."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _release(spark) -> None:
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    release_staged(spark)


def _run_pass(ctx: Context, ops_fn) -> Pass:
    traced = ctx.tracer.enabled
    c0 = ctx.counters()
    check0 = ctx.check_s
    s0 = len(ctx.tracer.spans)
    cpu0, steal0 = ctx.cpu_s(), _steal_s()
    t0 = time.perf_counter()
    with ctx.tracer.span("pass"):
        ops = ops_fn()
    wall = time.perf_counter() - t0 - (ctx.check_s - check0)
    cpu = ctx.cpu_s() - cpu0
    c1 = ctx.counters()
    return Pass(ops, wall, traced, {k: c1[k] - c0[k] for k in c1},
                (s0, len(ctx.tracer.spans)), cpu, _steal_s() - steal0)


class BatchWorkload:
    """A fixed list of ``queries()`` entries; one pass runs each once,
    materialising every output column (``toPandas``), and compares the
    canonical result with the stored DuckDB oracle answer."""

    #: measured passes per run; a pass takes a few seconds
    min_passes = 4

    def __init__(self, group: str, sf: float, queries: list[str]) -> None:
        self.group = group
        self.sf = sf
        self.queries = queries
        self.batch = 0
        self.oracle_names = queries

    def setup(self, ctx: Context) -> dict:
        import __spark_entry__ as entrymod

        self.fns = entrymod.queries()
        self.oracle = inputs.oracle_answers(ctx.in_dir, self.queries)
        if ctx.corrupt_oracle:
            self.oracle = {n: _corrupted(df) for n, df in self.oracle.items()}
        cold = self._ops(ctx)
        return {"ops": cold, "build_first_s": sum(op.build_s for op in cold)}

    def run_pass(self, ctx: Context) -> Pass:
        return _run_pass(ctx, lambda: self._ops(ctx))

    def exhausted(self) -> bool:
        return False

    def _ops(self, ctx: Context) -> list[Op]:
        return [self._query(ctx, name) for name in self.queries]

    def _query(self, ctx: Context, name: str) -> Op:
        op = Op(name)
        tr = ctx.tracer
        c0 = ctx.counters()
        cpu0 = ctx.cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=name):
                with tr.span("build", op=name):
                    df = self.fns[name](ctx.spark, ctx.in_dir)
                t1 = time.perf_counter()
                with tr.span("exec", op=name):
                    got = df.toPandas()
                t2 = time.perf_counter()
        except Exception as exc:  # a failing query is counted, not fatal
            op.error = f"{type(exc).__name__}: {str(exc)[:200]}"
            _release(ctx.spark)
            return op
        op.cpu_s = ctx.cpu_s() - cpu0
        _release(ctx.spark)
        op.build_s, op.exec_s, op.s = t1 - t0, t2 - t1, t2 - t0
        if tr.enabled:
            c1 = ctx.counters()
            op.counters = {k: c1[k] - c0[k] for k in c1}
            with tr.uncounted():
                op.counters.update(
                    {f"catalyst.{k}_s": v for k, v in catalyst_phases(df).items()}
                )
        op.error = ctx.check(lambda: inputs.mismatch(got, self.oracle[name]))
        op.ok = not op.error
        return op

    def teardown(self, ctx: Context) -> dict:
        return {}


def _corrupted(df):
    """The oracle answer with one row fewer, or one extra row when empty."""
    if len(df):
        return df.iloc[1:].reset_index(drop=True)
    return df.reindex(range(1))


class StreamWorkload:
    """Incremental exact+near dedup through
    ``streaming.curation.match_dedup_batch`` (the ``foreachBatch`` body of
    ``match_deduped_stream_sink``) against a match index seeded from a
    corpus prefix, default (parquet directory) layout. One pass is one
    micro-batch followed by ``dedup_index.compact_match_index``, so every
    run compacts at least :attr:`min_passes` times.

    A micro-batch passes when it returns one decision per document, every
    planted exact copy classifies ``exact``, and its decision digest equals
    the one recorded for the same seed and batch number (recorded by the
    first run of a seed). A compaction passes when the exact table holds
    one row per indexed document."""

    #: measured passes per run; a pass takes about seven seconds
    min_passes = 3

    def __init__(self, sf: float, batch: int) -> None:
        self.group = "stream"
        self.sf = sf
        self.batch = batch
        self.oracle_names: list[str] = []

    def setup(self, ctx: Context) -> dict:
        import pandas as pd

        from tern_ep_data_pipeline_spark.operators import dedup_index
        from tern_ep_data_pipeline_spark.sources import tables

        with open(os.path.join(ctx.in_dir, "MANIFEST.json")) as fh:
            rows = json.load(fh)["rows"]
        self.n_batches = rows["stream_batches"]
        self.indexed = rows["seed_docs"]
        planted = pd.read_parquet(os.path.join(ctx.in_dir, "planted.parquet"))
        self.exact_ids = set(planted.loc[planted["kind"] == "exact", "doc_id"].tolist())
        self.digest_path = os.path.join(ctx.in_dir, "decision_digests.json")
        self.digests: dict[str, str] = {}
        if os.path.exists(self.digest_path):
            with open(self.digest_path) as fh:
                self.digests = json.load(fh)
        self.new_digests: dict[str, str] = {}
        self.corrupt = ctx.corrupt_oracle
        self.next_batch = 0
        self.index = os.path.join(ctx.work_dir, "match_index")
        shutil.rmtree(self.index, ignore_errors=True)
        t0 = time.perf_counter()
        seed = tables.load_table(ctx.spark, ctx.in_dir, "seed_docs")
        dedup_index.build_dedup_index(seed, self.index)
        return {"ops": [], "build_first_s": time.perf_counter() - t0}

    def run_pass(self, ctx: Context) -> Pass:
        return _run_pass(ctx, lambda: self._ops(ctx))

    def exhausted(self) -> bool:
        return self.next_batch >= self.n_batches

    def _ops(self, ctx: Context) -> list[Op]:
        return [self._micro_batch(ctx), self._compact(ctx)]

    def _micro_batch(self, ctx: Context) -> Op:
        from tern_ep_data_pipeline_spark.sources import tables
        from tern_ep_data_pipeline_spark.streaming import curation

        b = self.next_batch
        self.next_batch += 1
        op = Op(f"batch_{b:03d}")
        tr = ctx.tracer
        c0 = ctx.counters()
        idx0 = _walk(self.index) if tr.enabled else None
        cpu0 = ctx.cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=op.name):
                part = tables.load_table(ctx.spark, ctx.in_dir, f"stream_{b:03d}")
                with tr.span("build", op=op.name):
                    out = curation.match_dedup_batch(part, self.index)
                t1 = time.perf_counter()
                with tr.span("exec", op=op.name):
                    rows = out.collect()
                t2 = time.perf_counter()
        except Exception as exc:  # a failing batch is counted, not fatal
            op.error = f"{type(exc).__name__}: {str(exc)[:200]}"
            _release(ctx.spark)
            return op
        op.cpu_s = ctx.cpu_s() - cpu0
        _release(ctx.spark)
        op.build_s, op.exec_s, op.s = t1 - t0, t2 - t1, t2 - t0
        if tr.enabled:
            c1 = ctx.counters()
            op.counters = {k: c1[k] - c0[k] for k in c1}
            idx1 = _walk(self.index)
            op.counters["index.files_added"] = idx1[0] - idx0[0]
            op.counters["index.bytes_added"] = idx1[1] - idx0[1]
            with tr.uncounted():
                op.counters.update(
                    {f"catalyst.{k}_s": v for k, v in catalyst_phases(out).items()}
                )
        self.indexed += sum(1 for r in rows if r["status"] == "fresh")
        op.error = ctx.check(lambda: self._check_batch(b, rows))
        op.ok = not op.error
        return op

    def _check_batch(self, b: int, rows) -> str:
        decided = sorted((r["doc_id"], r["status"], r["match_id"]) for r in rows)
        if len(decided) != self.batch or len({d[0] for d in decided}) != self.batch:
            return f"{len(decided)} decisions for {self.batch} documents"
        missed = [d for d in decided if d[0] in self.exact_ids and d[1] != "exact"]
        if missed:
            return f"planted exact copy classified {missed[0][1]}: doc {missed[0][0]}"
        digest = hashlib.sha256(repr(decided).encode()).hexdigest()[:16]
        want = "0" * 16 if self.corrupt else self.digests.get(str(b))
        if want is None:
            self.new_digests[str(b)] = digest
            return ""
        return "" if digest == want else f"decision digest {digest} != {want}"

    def _compact(self, ctx: Context) -> Op:
        from tern_ep_data_pipeline_spark.operators import dedup_index

        op = Op("compact", latency=False)
        tr = ctx.tracer
        c0 = ctx.counters()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=op.name):
                res = dedup_index.compact_match_index(ctx.spark, self.index)
        except Exception as exc:  # a failing compaction is counted, not fatal
            op.error = f"{type(exc).__name__}: {str(exc)[:200]}"
            return op
        op.s = op.exec_s = time.perf_counter() - t0
        if tr.enabled:
            c1 = ctx.counters()
            op.counters = {k: c1[k] - c0[k] for k in c1}
            op.counters["index.compact_bytes_rewritten"] = _walk(self.index)[1]
        want = self.indexed + (1 if self.corrupt else 0)
        got = res.get("exact", {}).get("rows")
        op.error = "" if got == want else f"exact rows {got} != {want} indexed docs"
        op.ok = not op.error
        return op

    def teardown(self, ctx: Context) -> dict:
        files, nbytes = _walk(self.index)
        if self.new_digests and not ctx.corrupt_oracle:
            self.digests.update(self.new_digests)
            tmp = self.digest_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.digests, fh, sort_keys=True)
            os.replace(tmp, self.digest_path)
        shutil.rmtree(self.index, ignore_errors=True)
        return {"index.files": files, "index.bytes": nbytes, "index.docs": self.indexed}


def _walk(path: str) -> tuple[int, int]:
    """(data files, bytes) under a directory."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes
