"""Spans around the program's public functions, recorded from outside.

A ``--trace 1`` run installs :class:`Tracer`, which replaces a fixed set
of public functions of ``lagoon_spark`` with wrappers at run time (no
file of the program changes). A wrapper records a span — name, operation
id, start, end, parent span — only on a thread whose current operation
is traced; on any other thread it calls straight through. Workloads
alternate traced and untraced operations, so one run yields both the
per-layer split and the tracing overhead.

Threads learn their operation in three ways: the workload's own thread
through :meth:`Tracer.op`; a server handler thread from the request's
user (``TRACED_USER`` means traced, see ``LagoonServer._as_user``) and,
for ``/sql``, from the ``/* op=N */`` comment every benchmark query
carries. Spark jobs started by a traced operation run under the job
group ``lb:<op id>``, which is how the status store's stage metrics are
attributed to operations after the run.

Spans stay in memory and are read back when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from dataclasses import dataclass

from harness import TRACED_USER

_OP_RE = re.compile(r"/\* op=(\d+) \*/")

PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = {
    "stages": None,
    "tasks": "numTasks",
    "executor_cpu_s": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


@dataclass
class Span:
    name: str
    op: int | None
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


@dataclass
class Op:
    kind: str
    traced: bool


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: dict[int, Op] = {}
        self.frames: list = []  # DataFrames returned by traced sql() calls
        self.denied = 0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- operation context ---------------------------------------------------

    def new_op(self, kind: str, traced: bool) -> int:
        with self._lock:
            op_id = len(self.ops) + 1
            self.ops[op_id] = Op(kind, traced)
        return op_id

    def register(self, op_id: int, kind: str, traced: bool) -> None:
        """An operation run on another thread (a server request), whose
        id travels in the request itself."""
        with self._lock:
            self.ops[op_id] = Op(kind, traced)

    def _enter(self, op_id: int | None, traced: bool) -> None:
        t = self._tls
        t.traced, t.stack = traced, []
        self._bind(op_id)

    def _bind(self, op_id: int | None) -> None:
        """Attribute this thread's next Spark jobs to ``op_id``."""
        t = self._tls
        t.op = op_id
        if getattr(t, "group", False):
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            t.group = False
        if t.traced and op_id is not None:
            self.sc.setJobGroup(f"lb:{op_id}", f"lagoonbench op {op_id}")
            t.group = True

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool):
        """Run the block as one operation of ``kind`` on this thread."""
        op_id = self.new_op(kind, traced)
        self._enter(op_id, traced)
        try:
            yield op_id
        finally:
            self._enter(None, False)

    def traced(self) -> bool:
        return getattr(self._tls, "traced", False)

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str) -> int:
        t = self._tls
        span = Span(name, t.op, time.perf_counter(), 0.0, t.stack[-1] if t.stack else None)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        t.stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._tls.stack.pop()

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def _spanning(self, name: str):
        tracer = self

        def wrap(fn):
            def call(*a, **kw):
                if not tracer.traced():
                    return fn(*a, **kw)
                idx = tracer._open(name)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._close(idx)

            return call

        return wrap

    def install(self) -> None:
        from lagoon_spark import catalog, engine, security, server

        tracer = self
        L, C = engine.Lagoon, catalog.Catalog
        for attr in (
            "ingest", "register_all_views", "register_metadata_views",
            "export_query_dataset", "clean_source", "dedup_source",
            "build_ann_index", "ann_search_batch",
        ):
            self._patch(L, attr, self._spanning(f"engine.{attr}"))
        for attr in ("search", "refresh", "state_token", "get_source", "get_source_by_ix"):
            self._patch(C, attr, self._spanning(f"catalog.{attr}"))

        def as_user(fn):
            def call(srv, user):
                tracer._enter(None, user == TRACED_USER)
                return fn(srv, user)

            return call

        self._patch(server.LagoonServer, "_as_user", as_user)

        def sql(fn):
            def call(eng, query, *a, **kw):
                if not tracer.traced():
                    return fn(eng, query, *a, **kw)
                m = _OP_RE.search(query)
                if m and tracer._tls.op is None:
                    tracer._bind(int(m.group(1)))
                idx = tracer._open("engine.sql")
                try:
                    df = fn(eng, query, *a, **kw)
                finally:
                    tracer._close(idx)
                with tracer._lock:
                    tracer.frames.append(df)
                return df

            return call

        self._patch(L, "sql", sql)

        def export_query(fn):
            def call(eng, query, *a, **kw):
                gen = fn(eng, query, *a, **kw)
                if not tracer.traced():
                    yield from gen
                    return
                m = _OP_RE.search(query)
                if m:
                    tracer._bind(int(m.group(1)))
                # from the first pull to the last chunk: security walk,
                # planning, execution and serialization
                idx = tracer._open("engine.export_query")
                try:
                    yield from gen
                finally:
                    tracer._close(idx)

            return call

        self._patch(L, "export_query", export_query)

        def verify(fn):
            def call(*a, **kw):
                if not tracer.traced():
                    return fn(*a, **kw)
                idx = tracer._open("security.verify_user_query")
                try:
                    return fn(*a, **kw)
                except security.QueryDenied:
                    with tracer._lock:
                        tracer.denied += 1
                    raise
                finally:
                    tracer._close(idx)

            return call

        self._patch(security, "verify_user_query", verify)

        def writer_lock(fn):
            def call(cat, *a, **kw):
                cm = fn(cat, *a, **kw)
                if not tracer.traced():
                    return cm
                return _TimedEnter(tracer, cm, "catalog.writer_lock")

            return call

        self._patch(C, "writer_lock", writer_lock)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reading it back -----------------------------------------------------

    def durations(self, name: str, *, self_time: bool = False) -> list[float]:
        """Durations (s) of every span called ``name``; with
        ``self_time`` the part not covered by child spans."""
        child = {}
        if self_time:
            for s in self.spans:
                if s.parent is not None:
                    child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return [
            (s.end - s.start) - child.get(i, 0.0)
            for i, s in enumerate(self.spans)
            if s.name == name and s.end
        ]

    def spans_of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def children_of(self, name: str, parent_name: str) -> int:
        """How many ``parent_name`` spans have a ``name`` child."""
        parents = {
            s.parent for s in self.spans if s.name == name and s.parent is not None
        }
        return sum(
            1 for i, s in enumerate(self.spans) if s.name == parent_name and i in parents
        )

    def catalyst_ms(self) -> dict[str, list[float]]:
        """Analysis / optimization / planning time of every traced
        ``sql()`` result, from Catalyst's own phase tracker. Results
        streamed as JSON run through a derived Dataset, whose phases
        are not visible here, so only frames that were planned count."""
        out = {p: [] for p in PHASES}
        for df in self.frames:
            phases = df._jdf.queryExecution().tracker().phases()
            got = {}
            for p in PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    got[p] = float(opt.get().durationMs())
            if len(got) == len(PHASES):
                for p in PHASES:
                    out[p].append(got[p])
        return out

    def stage_metrics(self) -> dict[int, dict[str, float]]:
        """Spark work per traced operation: jobs, stages, tasks,
        executor CPU seconds and I/O bytes from the status store, joined
        to operations through their job group."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # older listener bus API: give it a moment
            time.sleep(1.0)
        jvm = self.sc._jvm
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_op: dict[int, int] = {}
        out: dict[int, dict[str, float]] = {}
        for i in range(jobs.length()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or not str(g.get()).startswith("lb:"):
                continue
            op_id = int(str(g.get())[3:])
            rec = out.setdefault(op_id, dict.fromkeys(["jobs", *STAGE_FIELDS], 0.0))
            rec["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.length()):
                stage_op[int(ids.apply(k))] = op_id
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(stages.length()):
            s = stages.apply(i)
            op_id = stage_op.get(int(s.stageId()))
            if op_id is None:
                continue
            rec = out[op_id]
            rec["stages"] += 1
            for key, attr in STAGE_FIELDS.items():
                if attr is None:
                    continue
                attrs = attr if isinstance(attr, tuple) else (attr,)
                rec[key] += sum(float(getattr(s, a)()) for a in attrs)
        for rec in out.values():
            rec["executor_cpu_s"] /= 1e9
        return out


class _TimedEnter:
    """Context manager proxy whose span covers only ``__enter__`` — the
    time spent acquiring the writer lock, including the catalog refresh
    it performs (a child span, subtracted as self time)."""

    def __init__(self, tracer: Tracer, cm, name: str):
        self.tracer, self.cm, self.name = tracer, cm, name

    def __enter__(self):
        idx = self.tracer._open(self.name)
        try:
            return self.cm.__enter__()
        finally:
            self.tracer._close(idx)

    def __exit__(self, *exc):
        return self.cm.__exit__(*exc)
