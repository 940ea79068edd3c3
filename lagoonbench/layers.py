"""Per-layer metrics of a traced run, by module.

Every workload reports every name in :data:`UNITS`; a layer the workload
does not exercise reads 0 (``operators.*`` outside ``llm_pipeline``, for
instance). Times are medians over the traced operations, Spark counters
are means per traced operation.
"""

from __future__ import annotations

import os
import time

import harness as H

# kinds of operation whose Spark work is reported one by one
SPARK_KINDS = (
    "ingest", "verify", "point", "agg", "export", "search",
    "clean", "dedup", "ann_build", "ann_search", "export_dataset",
)
SPARK_TOTALS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_cpu_s", "s"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("input_bytes", "bytes"),
)

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "ingest.probe_s": "s",
    "ingest.load_s": "s",
    "ingest.type_s": "s",
    "ingest.commit_s": "s",
    "ingest.bytes_written_per_input_byte": "ratio",
    "catalog.writer_lock_wait_ms": "ms",
    "catalog.bytes_written_per_ingest": "bytes",
    "catalog.refresh_ms": "ms",
    "catalog.state_token_ms": "ms",
    "catalog.search_ms": "ms",
    "catalog.get_source_ms": "ms",
    "engine.register_views_ms": "ms",
    "engine.view_memo_hit_ratio": "ratio",
    "engine.metadata_views_ms": "ms",
    "security.verify_ms": "ms",
    "security.denied": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"spark.{k}": u for k, u in SPARK_TOTALS},
    **{f"spark.{kind}.jobs": "count" for kind in SPARK_KINDS},
    **{f"spark.{kind}.executor_cpu_s": "s" for kind in SPARK_KINDS},
    "export.first_byte_ms": "ms",
    "export.csv_rows_per_s": "1/s",
    "export.json_rows_per_s": "1/s",
    "server.overhead_ms": "ms",
    "operators.clean_s": "s",
    "operators.dedup_s": "s",
    "operators.clean_keep_ratio": "ratio",
    "operators.dedup_keep_ratio": "ratio",
    "ann.build_s": "s",
    "ann.search_batch_ms": "ms",
    "ann.recall_at_10": "ratio",
    "trace.overhead_share": "ratio",
}


def _ms(xs) -> float:
    return H.median(xs) * 1e3


def common(tracer, res: H.Result) -> None:
    """The layers every workload reaches through the engine."""
    L = res.layers
    L["catalog.writer_lock_wait_ms"] = _ms(tracer.durations("catalog.writer_lock", self_time=True))
    L["catalog.refresh_ms"] = _ms(tracer.durations("catalog.refresh"))
    L["catalog.state_token_ms"] = _ms(tracer.durations("catalog.state_token"))
    L["catalog.search_ms"] = _ms(tracer.durations("catalog.search"))
    L["catalog.get_source_ms"] = _ms(
        tracer.durations("catalog.get_source") + tracer.durations("catalog.get_source_by_ix")
    )
    L["engine.register_views_ms"] = _ms(tracer.durations("engine.register_all_views"))
    n_sql = len(tracer.spans_of("engine.sql"))
    misses = tracer.children_of("engine.register_all_views", "engine.sql")
    L["engine.view_memo_hit_ratio"] = (n_sql - misses) / n_sql if n_sql else 0.0
    L["engine.metadata_views_ms"] = _ms(tracer.durations("engine.register_metadata_views"))
    L["security.verify_ms"] = _ms(tracer.durations("security.verify_user_query"))
    L["security.denied"] = float(tracer.denied)
    for phase, xs in tracer.catalyst_ms().items():
        L[f"catalyst.{phase}_ms"] = H.median(xs)

    per_op = tracer.stage_metrics()
    traced = {i: op for i, op in tracer.ops.items() if op.traced}
    if traced:
        for key, _u in SPARK_TOTALS:
            L[f"spark.{key}"] = sum(r[key] for r in per_op.values()) / len(traced)
    for kind in SPARK_KINDS:
        ids = [i for i, op in traced.items() if op.kind == kind]
        if ids:
            recs = [per_op.get(i, {}) for i in ids]
            L[f"spark.{kind}.jobs"] = sum(r.get("jobs", 0) for r in recs) / len(ids)
            L[f"spark.{kind}.executor_cpu_s"] = sum(
                r.get("executor_cpu_s", 0) for r in recs
            ) / len(ids)


def exports(tracer, reqs, res: H.Result) -> None:
    """Export serialization and HTTP overhead, from traced ``/sql``
    export requests (``reqs`` carry the client-side timings)."""
    L = res.layers
    in_proc = {s.op: s.end - s.start for s in tracer.spans_of("engine.export_query")}
    L["export.first_byte_ms"] = _ms([r.first_byte_s for r in reqs])
    for fmt in ("csv", "json"):
        rows = sum(r.rows for r in reqs if r.fmt == fmt)
        secs = sum(r.latency_s for r in reqs if r.fmt == fmt)
        L[f"export.{fmt}_rows_per_s"] = rows / secs if secs else 0.0
    L["server.overhead_ms"] = _ms(
        [r.latency_s - in_proc[r.op_id] for r in reqs if r.op_id in in_proc]
    )


def overhead(untraced: dict, traced: dict, res: H.Result) -> None:
    """Tracing overhead: per kind of operation, the traced median over
    the untraced median, averaged over kinds seen both ways, minus 1."""
    ratios = [
        H.median(traced[k]) / H.median(untraced[k])
        for k in untraced
        if untraced.get(k) and traced.get(k) and H.median(untraced[k]) > 0
    ]
    res.layers["trace.overhead_share"] = sum(ratios) / len(ratios) - 1 if ratios else 0.0


def ingest_phases(event_lists, res: H.Result) -> None:
    """Gaps between an ingest's progress events: input → format (probe),
    format → loaded (load), loaded → typed (type), typed → done
    (commit). Tabular ingests only; JSON ingests emit no format/typed."""
    gaps = {"probe": [], "load": [], "type": [], "commit": []}
    for ev in event_lists:
        t = dict(ev)
        if not {"input", "format", "loaded", "typed", "done"} <= set(t):
            continue
        gaps["probe"].append(t["format"] - t["input"])
        gaps["load"].append(t["loaded"] - t["format"])
        gaps["type"].append(t["typed"] - t["loaded"])
        gaps["commit"].append(t["done"] - t["typed"])
    for k, xs in gaps.items():
        res.layers[f"ingest.{k}_s"] = H.median(xs)


def _catalog_files(eng) -> dict:
    out = {}
    with os.scandir(eng.catalog.dir) as it:
        for e in it:
            if e.is_file():
                st = e.stat()
                out[e.name] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes a catalog mutation wrote: the growth of an appended log,
    the whole size of a file created or rewritten."""
    n = 0
    for name, (size, mtime) in after.items():
        old = before.get(name)
        if old is None:
            n += size
        elif old[1] != mtime:
            n += size - old[0] if name.endswith(".log.jsonl") else size
    return n


class IngestRecorder:
    """Calls ``Lagoon.ingest`` the way the CLI does; on a traced call it
    also records the progress events and the bytes the ingest wrote."""

    def __init__(self):
        self.events: list = []
        self.written_ratio: list[float] = []
        self.catalog_bytes: list[int] = []

    def ingest(self, eng, path: str, name: str, traced: bool, **kw):
        if not traced:
            return eng.ingest(path, name, **kw)
        ev: list = []
        before = _catalog_files(eng)
        info = eng.ingest(
            path, name, progress=lambda e: ev.append((e["event"], time.perf_counter())), **kw
        )
        self.catalog_bytes.append(_written(before, _catalog_files(eng)))
        data = sum(
            H.dir_bytes(eng._data_path(t))
            for t in (info.table_name, info.typed_table_name)
            if t
        )
        self.written_ratio.append(data / os.path.getsize(path))
        self.events.append(ev)
        return info

    def report(self, res: H.Result) -> None:
        ingest_phases(self.events, res)
        res.layers["ingest.bytes_written_per_input_byte"] = H.median(self.written_ratio)
        res.layers["catalog.bytes_written_per_ingest"] = H.median(self.catalog_bytes)
