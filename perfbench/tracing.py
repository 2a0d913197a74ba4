"""Per-layer tracing for the benchmark process.

``Tracer.install()`` wraps the public functions of each package layer
where they are looked up (module attributes, including the names other
modules imported with ``from x import f``) and the public methods of
``Graph``. Each wrapped call is a span: it sets its own Spark job group,
so every job the span launches while it is the innermost span is
attributed to it. Spans stay in memory; ``Tracer.collect()`` reads the
status store once, after the measured passes, and folds jobs, stages,
shuffle bytes, spill and executor time into per-layer totals.

``plans`` is counted rather than spanned: a ``localCheckpoint`` runs the
superstep it truncates, so giving it its own job group would move every
loop's work out of ``operators``/``library``. Its calls and time are
counted inside whichever span is open.

Wrappers keep the wrapped function's ``__module__`` and ``__qualname__``,
and the module attribute points at the wrapper, so cloudpickle still
pickles a traced function by reference and Python workers import the
plain one.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager

SPAN_LAYERS = {
    "flink_graph_spark.sources": "sources",
    "flink_graph_spark.operators": "operators",
    "flink_graph_spark.library": "library",
    "flink_graph_spark.functions": "functions",
}
IDLE_GROUP = "perfbench-idle"
MB = 1024.0 * 1024.0


class Span:
    __slots__ = ("layer", "name", "group", "start", "dur", "child")

    def __init__(self, layer: str, name: str, group: str):
        self.layer, self.name, self.group = layer, name, group
        self.start = time.perf_counter()
        self.dur = 0.0
        self.child = 0.0


class Tracer:
    """Spans and counters of the traced passes of one run."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counts = {
            "operators.supersteps": 0, "plans.local_checkpoints": 0,
            "plans.checkpoint_s": 0.0, "plans.releases": 0,
            "sources.builder_calls": 0, "sources.memo_hits": 0,
            "spark.jvm_gc_s": 0.0, "registry.leftover_rdds": 0,
        }
        self._patches: list[tuple[object, str, object]] = []
        self._memo: dict = {}

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        s = self._enter(layer, name)
        try:
            yield s
        finally:
            self._exit(s)

    def _enter(self, layer: str, name: str) -> Span:
        s = Span(layer, name, f"pb{len(self.spans)}")
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        return s

    def _exit(self, s: Span) -> None:
        s.dur = time.perf_counter() - s.start
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1]
            parent.child += s.dur
            self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
        else:
            self.sc.setJobGroup(IDLE_GROUP, "perfbench")

    # -- wrapping ----------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self
        builder = fn.__module__.endswith(".sources.graphs")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            hits_before = {id(g) for g in tracer._memo.values()} if builder else ()
            s = tracer._enter(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._exit(s)
            if layer == "operators" and hasattr(out, "iterations"):
                tracer.counts["operators.supersteps"] += out.iterations
            if builder and type(out).__name__ == "Graph":
                tracer.counts["sources.builder_calls"] += 1
                tracer.counts["sources.memo_hits"] += id(out) in hits_before
            return out

        return traced

    def _counted(self, key: str, fn, timed: str | None = None):
        counts = self.counts

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            counts[key] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if timed:
                    counts[timed] += time.perf_counter() - t0

        return counted

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer's public entry points at their import sites."""
        from flink_graph_spark.graph import Graph
        from flink_graph_spark.plans import checkpoints
        from flink_graph_spark.sources import graphs

        self._memo = graphs._GRAPH_MEMO
        pkg = [m for n, m in list(sys.modules.items())
               if m is not None and (n == "flink_graph_spark" or n.startswith("flink_graph_spark."))]
        wrappers: dict[int, object] = {}
        for mod in pkg:
            layer = next((lay for pre, lay in SPAN_LAYERS.items()
                          if mod.__name__.startswith(pre)), None)
            if layer is None:
                continue
            for name, fn in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                        and not inspect.isgeneratorfunction(fn)
                        and not hasattr(fn, "evalType")):
                    wrappers[id(fn)] = self._wrap(layer, fn)
        wrappers[id(checkpoints.release_local_checkpoint)] = self._counted(
            "plans.releases", checkpoints.release_local_checkpoint)
        for mod in pkg:
            for name, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._set(mod, name, w)
        for name, attr in list(vars(Graph).items()):
            if name.startswith("_"):
                continue
            if isinstance(attr, staticmethod):
                self._set(Graph, name, staticmethod(self._wrap("graph", attr.__func__)))
            elif inspect.isfunction(attr):
                self._set(Graph, name, self._wrap("graph", attr))
        df_cls = type(self.spark.range(1))
        self._set(df_cls, "localCheckpoint", self._counted(
            "plans.local_checkpoints", df_cls.localCheckpoint, "plans.checkpoint_s"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.sc.setJobGroup(IDLE_GROUP, "perfbench")

    # -- status store ------------------------------------------------
    def collect(self, n_passes: int) -> dict[str, float]:
        """Per-layer totals of the traced passes, divided by their number."""
        store = self.sc._jsc.sc().statusStore()
        by_group = {s.group: s for s in self.spans}
        job_layer: dict[int, str] = {}
        stage_owner: dict[int, tuple[int, str]] = {}  # stage -> first job, layer
        jobs = store.jobsList(None).iterator()
        while jobs.hasNext():
            j = jobs.next()
            grp = j.jobGroup()
            s = by_group.get(grp.get()) if grp.isDefined() else None
            if s is None:
                continue
            jid = j.jobId()
            job_layer[jid] = s.layer
            sids = j.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid not in stage_owner or stage_owner[sid][0] > jid:
                    stage_owner[sid] = (jid, job_layer[jid])
        agg: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            agg[key] = agg.get(key, 0.0) + v

        for layer in job_layer.values():
            add(f"{layer}.jobs", 1)
        stages = store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        ).iterator()
        while stages.hasNext():
            st = stages.next()
            owner = stage_owner.get(st.stageId())
            if owner is None or st.status().toString() == "SKIPPED":
                continue
            lay = owner[1]
            add(f"{lay}.stages", 1)
            add(f"{lay}.tasks", st.numCompleteTasks())
            add(f"{lay}.executor_s", st.executorRunTime() / 1000.0)
            add(f"{lay}.shuffle_read_mb", st.shuffleReadBytes() / MB)
            add(f"{lay}.shuffle_write_mb", st.shuffleWriteBytes() / MB)
            add(f"{lay}.spill_mb", st.diskBytesSpilled() / MB)
            add("spark.failed_tasks", st.numFailedTasks())
        for s in self.spans:
            add(f"{s.layer}.calls", 1)
            add(f"{s.layer}.self_s", s.dur - s.child)
            if s.layer == "action":
                add("action.s", s.dur)
        for layer in {s.layer for s in self.spans}:
            agg[f"{layer}.barrier_s"] = (
                agg.get(f"{layer}.self_s", 0.0) - agg.get(f"{layer}.executor_s", 0.0) / self.cores)
        for k, v in self.counts.items():
            add(k, v)
        out = {k: v / n_passes for k, v in agg.items()}
        calls = self.counts["sources.builder_calls"]
        out["sources.memo_hit_frac"] = self.counts["sources.memo_hits"] / calls if calls else 0.0
        return out
