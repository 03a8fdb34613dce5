"""Spans around the program's layers, recorded from outside the program.

`Tracer.install()` replaces every public function of the package's
modules (everywhere the package holds a reference to it) with a wrapper
that records a span: name, layer (the module path inside the package),
start, end and parent. A span opened on the main thread also opens a
Spark job group named after it and reads the scheduler's job counter on
entry and exit, so each Spark job can be charged to the innermost span
that submitted it. Spans opened on other threads (foreachBatch
callbacks) carry time only. `uninstall()` restores the originals.

Spans stay in memory; `build_tree`, `charge_jobs` and `layer_table`
turn one iteration's spans and jobs into self times and per-layer
counters.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .status import Job
from .summary import ratio

PACKAGE = "etl_portfolio_project_spark"
#: modules whose functions are not layer boundaries: the registry
#: wrapper and the session factory
UNTRACED = {"api", "session"}
GROUP_PREFIX = "perfbench-span-"
HARNESS = "perfbench"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    main: bool
    execute: bool = False
    start: float = 0.0
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, status):
        self._spark = spark
        self._jsc = spark.sparkContext._jsc
        self._status = status
        self._main = threading.get_ident()
        self._stacks: dict[int, list[Span]] = {}
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.storage_peak = 0

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, execute: bool = False):
        me = threading.get_ident()
        stack = self._stacks.setdefault(me, [])
        outer = stack or self._stacks.get(self._main) or [None]
        parent = outer[-1]
        s = Span(next(self._ids), name, layer,
                 parent.sid if parent else None, me == self._main, execute)
        if s.main:
            self._jsc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
            s.first_job = self._status.job_count()
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if s.main:
                s.end_job = self._status.job_count()
                self._jsc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"{GROUP_PREFIX}{parent.sid}" if parent and parent.main else None,
                )
            self.spans.append(s)

    def _wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _wrap_shared_index(self, fn):
        # the build callable gets its own span: a shared_index span
        # without a build child is a cache hit
        @functools.wraps(fn)
        def traced(key, build):
            def traced_build():
                with self.span("caches.shared_index.build", "caches"):
                    return build()

            with self.span("caches.shared_index", "caches"):
                return fn(key, traced_build)

        return traced

    # -- install / uninstall -----------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))
        ]
        wrappers = {}
        for m in modules:
            layer = m.__name__[len(PACKAGE) + 1:]
            if not layer or layer.split(".")[0] in UNTRACED:
                continue
            for attr, fn in vars(m).items():
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == m.__name__):
                    wrappers[fn] = (self._wrap_shared_index(fn)
                                    if f"{layer}.{attr}" == "caches.shared_index"
                                    else self._wrap(fn, layer))
        for m in modules:
            for attr, value in list(vars(m).items()):
                if inspect.isfunction(value) and value in wrappers:
                    self._patch(m, attr, wrappers[value])

        frame = type(self._spark.range(0))  # the session's DataFrame class
        unpersist = frame.unpersist

        def sampled_unpersist(df, *args, **kwargs):
            # the size of what a caller cached, read just before release
            self.sample_storage()
            return unpersist(df, *args, **kwargs)

        self._patch(frame, "unpersist", sampled_unpersist)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def sample_storage(self) -> None:
        self.storage_peak = max(self.storage_peak, self._status.storage_bytes())


# -- analysis ---------------------------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


@dataclass
class Tree:
    """One iteration's spans with self times and charged jobs."""

    spans: dict[int, Span]
    children: dict[int, list[int]]
    self_s: dict[int, float]
    jobs: dict[int, list[Job]] = field(default_factory=dict)

    def subtree(self, sid: int) -> list[int]:
        return _descendants(self.children, sid)


def _descendants(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s, ()))
    return out


def build_tree(spans: list[Span], root: int) -> Tree:
    """The spans under `root`, each with its self time: its duration
    minus the part of it that its children cover."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)
    tree = Tree({}, children, {})
    for sid in _descendants(children, root):
        s = by_id[sid]
        tree.spans[sid] = s
        kids = [(by_id[c].start, by_id[c].end) for c in children.get(sid, ())]
        tree.self_s[sid] = s.duration - covered(kids, s.start, s.end)
    return tree


def charge_jobs(tree: Tree, jobs: list[Job]) -> None:
    """Charge each job to the span whose job group it ran under; a job
    from another thread's group (a stream) goes to the innermost
    main-thread span whose job-id window contains it."""
    depth: dict[int, int] = {}
    for sid, s in tree.spans.items():
        d, p = 0, s.parent
        while p in tree.spans:
            d, p = d + 1, tree.spans[p].parent
        depth[sid] = d
    windows = [s for s in tree.spans.values() if s.main]
    for job in jobs:
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        if sid not in tree.spans:
            holders = [s for s in windows if s.first_job <= job.job_id < s.end_job]
            if not holders:
                continue
            sid = max(holders, key=lambda s: depth[s.sid]).sid
        tree.jobs.setdefault(sid, []).append(job)


def layer_table(tree: Tree, counters_of, root: int | None = None) -> dict[str, dict]:
    """Per-layer totals over one iteration, or over the spans under
    `root` only.

    `calls` and `self_s` sum every span of the layer. The other numbers
    cover the layer's outermost spans (those whose parent is in another
    layer) including everything they call: `build_s` and `build_jobs`
    over builder spans, the job counters over builder and execute spans.
    """
    table: dict[str, dict] = {}
    for sid in tree.spans if root is None else tree.subtree(root):
        s = tree.spans[sid]
        row = table.setdefault(s.layer, {"calls": 0, "self_s": 0.0, "build_s": 0.0,
                                         "build_jobs": 0, "wall_s": 0.0, "_jobs": []})
        row["calls"] += 1
        row["self_s"] += tree.self_s[sid]
        parent = tree.spans.get(s.parent)
        if parent is not None and parent.layer == s.layer:
            continue
        below = [j for x in tree.subtree(sid) for j in tree.jobs.get(x, ())]
        row["wall_s"] += s.duration
        row["_jobs"].extend(below)
        if not s.execute:
            row["build_s"] += s.duration
            row["build_jobs"] += len(below)
    for row in table.values():
        row.update(counters_of(row.pop("_jobs")).as_dict())
    return table


def stream_listener():
    """A StreamingQueryListener that keeps each trigger's progress:
    input rows and the `durationMs` phases."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({"run_id": str(p.runId), "batch": p.batchId,
                                "input_rows": p.numInputRows,
                                "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


#: streaming metric -> durationMs phase
STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
}


def layer_metrics(tree: Tree, table: dict[str, dict], search: dict, total: dict,
                  exchanges: int, storage_bytes: int, progress: list[dict],
                  cpus: int) -> dict[str, float]:
    """The named per-layer metrics of one traced iteration. `search` is
    the layer table of the vector-search step alone: the stream's
    builder is registered in `operators.similarity` too, and its cost
    belongs to the streaming metrics."""

    def get(layer: str, key: str) -> float:
        return table.get(layer, {}).get(key, 0)

    names = [s.name for s in tree.spans.values()]
    shared = [sid for sid, s in tree.spans.items() if s.name == "caches.shared_index"]
    hits = sum(
        1 for sid in shared
        if not any(tree.spans[c].name == "caches.shared_index.build"
                   for c in tree.children.get(sid, ()))
    )
    loan, cur, sim = "pipelines.loan_pipeline", "operators.curation", "operators.similarity"
    m = {
        f"{loan}.tasks": get(loan, "tasks"),
        f"{loan}.parallelism": ratio(get(loan, "run_s"), get(loan, "wall_s") * cpus),
        f"{loan}.output_bytes": get(loan, "output_bytes"),
        f"{loan}.bytes_per_row": ratio(get(loan, "output_bytes"), get(loan, "output_rows")),
        f"{loan}.gc_s": get(loan, "gc_s"),
        "caches.storage_bytes": storage_bytes,
        "sources.views.build_s": get("sources.views", "build_s"),
        "sources.input_bytes": total["input_bytes"],
        "sources.input_rows": total["input_rows"],
        "operators.fuzzy.build_s": get("operators.fuzzy", "build_s"),
        "operators.metrics.build_s": get("operators.metrics", "build_s"),
        "operators.schedule.build_s": get("operators.schedule", "build_s"),
        f"{cur}.build_s": get(cur, "build_s"),
        f"{cur}.build_jobs": get(cur, "build_jobs"),
        f"{cur}.jobs": get(cur, "jobs"),
        f"{cur}.stages": get(cur, "stages"),
        f"{cur}.shuffle_write_bytes": get(cur, "shuffle_write_bytes"),
        f"{cur}.cpu_per_run": ratio(get(cur, "cpu_s"), get(cur, "run_s")),
        f"{sim}.cpu_s": search.get(sim, {}).get("cpu_s", 0),
        f"{sim}.build_s": search.get(sim, {}).get("build_s", 0),
        f"{sim}.build_jobs": search.get(sim, {}).get("build_jobs", 0),
        "caches.shared_index.calls": len(shared),
        "caches.shared_index.hit_ratio": ratio(hits, len(shared)),
        "caches.claim_calls": names.count("caches.claim"),
        "streaming.epochs": len(progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "plans.exchanges": exchanges,
    }
    for metric, phase in STREAM_PHASES.items():
        m[metric] = sum(p["duration_ms"].get(phase, 0) for p in progress) / 1e3
    return m
