"""Layer spans recorded from outside the engine, by wrapping public
functions at the name their caller looks up.

``engine.py`` binds ``apply_transfer``, ``plan_schedule`` and the
``plans.graph`` tree builders at import, so those are patched on the
``engine`` module. ``extract_join_graph``, the ``catalyst_order``
passes, ``plan_candidates`` and the bloom functions are imported inside
function bodies, so they are patched on their own modules. Methods are
patched on their class.

Spans nest: each closed span knows its start, end, parent and the part
of its duration its child spans cover, so a layer's self time is
duration minus children, and the self times of one statement's spans
partition its construction time. Every span carries the request id of
the leg that caused it (pass, statement, leg). Spans that carry a Spark
job group count the jobs and tasks that ran under it, children
included. Spans are kept in memory: the caller summarizes each leg's
top-level spans when the leg ends, and ``Tracer.dump`` writes every
span out as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time

_PKG = "duckdb_robust_predicate_transfer_spark"

#: layer -> (module, owner attribute or None for the module, functions)
LAYERS = {
    "catalog": ("catalog", "Catalog",
                ("register_views", "row_count", "table", "path")),
    "extract": ("plans.extract", None, ("extract_join_graph",)),
    "host_plan": ("plans.catalyst_order", None,
                  ("scan_prefilter_pairs", "native_bloom_edges",
                   "physical_alias_order")),
    "arbitration": ("operators.rewrite", None, ("plan_candidates",)),
    "schedule": ("engine", None,
                 ("largest_root_tree", "join_order_dag",
                  "execution_order_dag", "plan_schedule")),
    "transfer": ("engine", None, ("apply_transfer",)),
    "bloom": ("operators.bloom", None, ("build_bloom", "probe_bloom")),
    "engine": ("engine", "Engine", ("sql", "reduce_and_join")),
}

#: layers whose Spark jobs are counted under a job group of their own
JOB_LAYERS = {"transfer"}


class Span:
    __slots__ = ("id", "parent", "request", "layer", "start", "dur",
                 "child", "jobs", "tasks", "failed_tasks", "group", "kids",
                 "result")

    def __init__(self, id: int, parent: "Span | None", request, layer: str):
        self.id, self.parent, self.request = id, parent, request
        self.layer = layer
        self.start = self.dur = self.child = 0.0
        self.jobs = self.tasks = self.failed_tasks = 0
        self.group = None
        self.kids: list = []
        self.result = None

    @property
    def self_s(self) -> float:
        return self.dur - self.child


class Tracer:
    def __init__(self, spark):
        import importlib

        self.sc = spark.sparkContext
        self._stack: list = []
        self._ids = itertools.count()
        self.t0 = time.perf_counter()
        #: the request id stamped on new spans; the caller sets it per leg
        self.request = None
        #: every top-level span, for ``dump``
        self.roots: list = []
        self._targets = []
        for layer, (mod, owner, names) in LAYERS.items():
            m = importlib.import_module(f"{_PKG}.{mod}")
            obj = getattr(m, owner) if owner else m
            for n in names:
                self._targets.append((obj, n, layer, obj.__dict__[n]))

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        for obj, name, layer, fn in self._targets:
            setattr(obj, name, self._wrap(fn, layer))

    def uninstall(self) -> None:
        for obj, name, _layer, fn in self._targets:
            setattr(obj, name, fn)

    def _wrap(self, fn, layer: str):
        jobs = layer in JOB_LAYERS

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(layer, jobs=jobs) as sp:
                out = fn(*a, **kw)
                if layer == "transfer":  # read by summarize
                    sp.result = out
                return out
        return wrapper

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent, self.request, layer)
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            sp.group = f"perfbench-{sp.id}"
            self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        self._stack.append(sp)
        t0 = time.perf_counter()
        sp.start = t0 - self.t0
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - t0
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            if parent is not None:
                parent.child += sp.dur
                parent.kids.append(sp)
            else:
                self.roots.append(sp)

    def count_jobs(self, root: Span) -> None:
        """Fill jobs/tasks/failed_tasks on ``root`` and every descendant
        from the status tracker (children roll up into parents). Call
        outside any timed region: it first drains the listener bus so
        the status store has seen every job of the finished span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()

        def visit(sp: Span) -> tuple:
            j = t = f = 0
            if sp.group is not None:
                for jid in st.getJobIdsForGroup(sp.group):
                    j += 1
                    info = st.getJobInfo(jid)
                    for sid in (info.stageIds if info else ()):
                        si = st.getStageInfo(sid)
                        if si is not None:
                            t += si.numTasks
                            f += si.numFailedTasks
            for k in sp.kids:
                kj, kt, kf = visit(k)
                j, t, f = j + kj, t + kt, f + kf
            sp.jobs, sp.tasks, sp.failed_tasks = j, t, f
            return j, t, f

        visit(root)


    def dump(self, path) -> int:
        """Write every span recorded so far as a JSON list, times in
        seconds from the tracer's creation; returns the span count."""
        rows = [{"id": sp.id,
                 "parent": sp.parent.id if sp.parent is not None else None,
                 "request": sp.request, "layer": sp.layer,
                 "start_s": sp.start, "end_s": sp.start + sp.dur,
                 "self_s": sp.self_s, "jobs": sp.jobs, "tasks": sp.tasks,
                 "failed_tasks": sp.failed_tasks}
                for root in self.roots for sp in flatten(root)]
        rows.sort(key=lambda r: r["id"])
        with open(path, "w") as f:
            json.dump(rows, f)
        return len(rows)


def flatten(root: Span) -> list:
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(sp.kids)
    return out


def summarize(root: Span) -> dict:
    """One statement leg's layer figures: self time and call count per
    layer, plus the transfer's ops and job counts."""
    out: dict = {f"{layer}.s": 0.0 for layer in LAYERS}
    out.update({f"{layer}.calls": 0 for layer in LAYERS})
    out.update({"transfer.jobs": 0, "transfer.tasks": 0,
                "transfer.ops_applied": 0, "transfer.ops_dropped": 0})
    for sp in flatten(root):
        if sp.layer not in LAYERS:
            continue
        out[f"{sp.layer}.s"] += sp.self_s
        out[f"{sp.layer}.calls"] += 1
        if sp.layer == "transfer":
            out["transfer.jobs"] += sp.jobs
            out["transfer.tasks"] += sp.tasks
            res, sp.result = sp.result, None  # drop the DataFrames
            if res is not None:
                out["transfer.ops_applied"] += len(res.applied)
                out["transfer.ops_dropped"] += sum(res.drops.values())
    return out
