"""In-memory spans and layer counters for the traced benchmark run.

Spans are recorded from outside the program: the benchmark wraps the
public functions of each layer (``sources.tables.load_table``,
``streaming.curation.match_dedup_batch``, the ``operators.dedup_index``
entry points) and opens spans around the calls it makes itself (session
start, ``q_*`` plan functions, actions). A span is (id, name, layer, start, end,
parent, run id, attributes); the list is written out once, when the run
ends.

Counters are read at the same boundaries:

- py4j round trips, by wrapping ``ClientServerConnection.send_command``;
- jobs, stages, tasks, task time, shuffle-write and spill bytes, from the
  driver's in-process status store (``SparkContext.statusStore``) after
  the listener bus drains;
- Catalyst phase times of an executed DataFrame, from its
  ``QueryExecution`` tracker.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict

#: Layer of each span name; a layer's self time is the time its spans
#: spend outside their child spans.
LAYERS = {
    "session": "session",
    "load_table": "sources",
    "build": "plans",
    "exec": "exec",
    "match_dedup_batch": "streaming",
    "build_dedup_index": "dedup_index",
    "match_against_index": "dedup_index",
    "append_exact_to_index": "dedup_index",
    "append_bands_to_index": "dedup_index",
    "compact_match_index": "dedup_index",
    "check": "harness",
    "op": "harness",
    "pass": "harness",
    "setup": "harness",
}

#: ``operators.dedup_index`` functions wrapped in spans.
INDEX_FUNCS = (
    "build_dedup_index",
    "match_against_index",
    "append_exact_to_index",
    "append_bands_to_index",
    "compact_match_index",
)


class Tracer:
    """Collects spans and counts while ``enabled``; a disabled tracer's
    wrappers call straight through, so one process can alternate traced
    and untraced passes."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self._counting = True
        self.loads = {"calls": 0, "hits": 0, "s": 0.0}
        # strong references keep ids unique while a frame may be seen again
        self._returned_frames: dict[int, object] = {}
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": LAYERS.get(name, name),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "py4j_start": self.py4j_calls,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j_end"] = self.py4j_calls

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Seconds per layer spent in its own spans minus the part of each
        span its child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child_s[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh)

    # --------------------------------------------------------- wrappers
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap py4j's send path, every module-level reference to
        ``load_table`` and the match-index layer entry points."""
        from py4j.clientserver import ClientServerConnection

        from tern_ep_data_pipeline_spark.operators import dedup_index
        from tern_ep_data_pipeline_spark.sources import tables
        from tern_ep_data_pipeline_spark.streaming import curation

        send = ClientServerConnection.send_command
        tracer = self

        def counted_send(conn, *a, **kw):
            if tracer.enabled and tracer._counting:
                tracer.py4j_calls += 1
            return send(conn, *a, **kw)

        self._patch(ClientServerConnection, "send_command", counted_send)

        load = tables.load_table

        @functools.wraps(load)
        def traced_load(spark, sf_dir, name):
            if not tracer.enabled:
                return load(spark, sf_dir, name)
            t0 = time.perf_counter()
            with tracer.span("load_table", table=name):
                df = load(spark, sf_dir, name)
            tracer.loads["s"] += time.perf_counter() - t0
            tracer.loads["calls"] += 1
            if id(df) in tracer._returned_frames:
                tracer.loads["hits"] += 1
            else:
                tracer._returned_frames[id(df)] = df
            return df

        # the entry module and the plans import load_table by name, so
        # every module-level reference is replaced, not only the source
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is load:
                self._patch(mod, "load_table", traced_load)

        self._patch(curation, "match_dedup_batch", self._spanned(curation.match_dedup_batch))
        for fname in INDEX_FUNCS:
            self._patch(dedup_index, fname, self._spanned(getattr(dedup_index, fname)))

    def _spanned(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(fn.__name__):
                return fn(*a, **kw)

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    @contextlib.contextmanager
    def uncounted(self):
        """py4j calls made by the tracer itself are not the program's."""
        self._counting = False
        try:
            yield
        finally:
            self._counting = True


class StatusCounters:
    """Cumulative execution counters from the driver's status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        self._last_stage = -1
        self.totals = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        self.read()

    def read(self) -> dict:
        """Fold the stages finished since the last read into ``totals``
        and return a copy."""
        self._bus.waitUntilEmpty(30_000)
        self.totals["jobs"] = self._store.appSummary().numCompletedJobs()
        seq = self._store.stageList(None, *self._defaults)
        newest = self._last_stage
        for i in range(seq.length()):  # newest stage first
            st = seq.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if st.status().toString() != "COMPLETE":
                continue
            self.totals["stages"] += 1
            self.totals["tasks"] += st.numCompleteTasks()
            self.totals["task_busy_s"] += st.executorRunTime() / 1000.0
            self.totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
            self.totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._last_stage = newest
        return dict(self.totals)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds in analysis, optimization and planning for an executed
    DataFrame (0 for a phase the tracker did not record)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
