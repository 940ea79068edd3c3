"""llm_pipeline: the corpus journey of an LLM-data user.

One operation is the whole journey over a freshly generated corpus:
ingest (parquet) → ``clean_source`` → ``dedup_source`` →
``build_ann_index`` → ``ann_search_batch`` (64 queries) →
``export_query_dataset``. Journeys repeat, each under a new dataset
name, until the time is up. This is where the engine's operators, the
ANN index and eager Spark jobs dominate.

Checks, all against the generator: the ingested row count; the rows
cleaning keeps (every planted junk row goes, every prose row stays);
the rows dedup keeps, by count and, in the export, by document id,
against the reference implementation in ``refdedup`` (at most one per
planted near-duplicate cluster); the ANN results' recall@10 against
an exact numpy search over the survivors, which must reach
:data:`RECALL_FLOOR`.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
import harness as H
import layers as LY
import refdedup

N_BASE = 600
WARM_BASE = 40
TOPK = 10
ANN_CELLS = 24  # ~25 survivors per IVF cell
RECALL_FLOOR = 0.8
STEPS = ("ingest", "clean", "dedup", "ann_build", "ann_search", "export_dataset")


def exact_topk(vectors: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row positions of the k highest-cosine vectors per query."""
    v = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    return np.argsort(-(q @ v.T), axis=1, kind="stable")[:, :k]


def make_inputs(seed: int, work: str):
    import pyarrow.parquet as pq

    c = gen.corpus(seed, os.path.join(work, "corpus"), N_BASE)
    table = pq.read_table(c.path, columns=["doc_id", "text"])
    ids, texts = table.column("doc_id").to_pylist(), table.column("text").to_pylist()
    prose = [r for r in range(c.rows) if c.cluster_of[r] >= 0]  # what cleaning keeps
    keep = [prose[p] for p in refdedup.survivors([texts[r] for r in prose])]
    return {
        "corpus": c,
        "survivor_ids": sorted(ids[r] for r in keep),
        # the dedup version numbers survivors 1..n in file order
        "exact": exact_topk(c.vectors[keep], c.queries, TOPK) + 1,
        "warm": gen.corpus(seed, os.path.join(work, "warm"), WARM_BASE),
        "out": os.path.join(work, "export"),
    }


def journey(eng, c: gen.Corpus, name: str, out: str, tracer, rec, traced: bool,
            res: H.Result | None = None) -> dict:
    """Run the six steps; returns step -> seconds plus the outputs. With
    ``res``, probe the host's speed before each step."""
    t: dict = {}

    def step(kind, fn):
        if res is not None:
            res.probe(5)
        t0 = time.perf_counter()
        with H.op(tracer, kind, traced):
            r = fn()
        t[kind] = time.perf_counter() - t0
        return r

    t["ingest_info"] = step("ingest", lambda: rec.ingest(eng, c.path, name, traced))
    t["clean_info"] = step("clean", lambda: eng.clean_source(name, "text"))
    t["dedup_info"] = step("dedup", lambda: eng.dedup_source(name, "text"))
    step("ann_build", lambda: eng.build_ann_index(name, "vec", k=ANN_CELLS))
    t["hits"] = step(
        "ann_search",
        lambda: eng.ann_search_batch(name, "vec", c.queries.tolist(), topk=TOPK).collect(),
    )
    shutil.rmtree(out, ignore_errors=True)
    step(
        "export_dataset",
        lambda: eng.export_query_dataset(f"SELECT ix, doc_id, text FROM {name}_v3", out),
    )
    return t


def set_up(spark, warehouse: str, inputs, tracer, rec) -> dict:
    return {"eng": H.new_engine(spark, warehouse)}


def warm_up(state, inputs) -> None:
    """The whole journey once, on a 40-document corpus: the first use of
    each operator compiles its JVM code paths and starts the Python
    workers, which would otherwise add ~40% to the measured journey."""
    journey(state["eng"], inputs["warm"], "warm", inputs["out"], None, LY.IngestRecorder(), False)


def tear_down(state) -> None:
    pass


def check(res: H.Result, inputs, steps: dict, what: str) -> float:
    """Check one journey's outputs; returns its recall@10."""
    import pyarrow.parquet as pq

    c = inputs["corpus"]
    n_keep = len(inputs["survivor_ids"])
    rows = {k: steps[f"{k}_info"].row_count for k in ("ingest", "clean", "dedup")}
    res.check(rows["ingest"] == c.rows, f"{what}: ingested {rows['ingest']} rows, want {c.rows}")
    res.check(rows["clean"] == c.n_clean, f"{what}: clean kept {rows['clean']}, want {c.n_clean}")
    res.check(rows["dedup"] == n_keep, f"{what}: dedup kept {rows['dedup']}, want {n_keep}")
    exported = sorted(pq.read_table(inputs["out"], columns=["doc_id"]).column("doc_id").to_pylist())
    res.check(exported == inputs["survivor_ids"], f"{what}: exported survivors differ")
    got: dict[int, set] = {}
    for h in steps["hits"]:
        got.setdefault(int(h["query_id"]), set()).add(int(h["ix"]))
    exact = inputs["exact"]
    recall = float(np.mean([len(got.get(q, set()) & set(exact[q])) / TOPK for q in range(len(exact))]))
    res.check(recall >= RECALL_FLOOR, f"{what}: recall@10 {recall:.3f} < {RECALL_FLOOR}")
    return recall


def measure(state, inputs, seconds: float, tracer, rec, res: H.Result) -> None:
    eng, c = state["eng"], inputs["corpus"]
    runs = []  # (traced, wall, steps)
    recalls = []
    cpu = []  # CPU seconds of each untraced journey
    t0 = time.perf_counter()
    j = 0
    # whole journeys that fit in the window, at least one (two in a
    # traced run, one each way)
    while j < (2 if tracer else 1) or seconds - (time.perf_counter() - t0) >= runs[-1][1]:
        traced = tracer is not None and j % 2 == 1
        # a journey's eager jobs leave garbage that would otherwise be
        # collected, at a varying cost, inside the next journey
        H.quiesce(eng.spark)
        cpu0 = H.cpu_seconds(eng.spark)
        steps = journey(eng, c, f"corpus{j}", inputs["out"], tracer, rec, traced, res)
        runs.append((traced, sum(steps[s] for s in STEPS), steps))
        if not traced:
            cpu.append(H.cpu_seconds(eng.spark) - cpu0)
        recalls.append(check(res, inputs, steps, f"journey {j}"))
        j += 1

    plain = [r for r in runs if not r[0]]
    res.op_ms = [r[1] * 1e3 for r in plain]
    res.e2e["op_ms"] = H.median(res.op_ms)
    res.detail["cpu_raw_ms_per_op"] = (H.median(cpu) * 1e3, "ms", len(cpu))
    res.detail["pipeline_docs_per_s"] = (c.rows * len(plain) / sum(r[1] for r in plain), "1/s", len(plain))
    res.timing("ann_search_p50_ms", [r[2]["ann_search"] for r in plain], "ms", 1e3)
    res.detail["dedup_planted_clusters_kept"] = (
        len(inputs["survivor_ids"]) / c.n_clusters, "ratio", len(runs)
    )
    for s in STEPS:
        res.timing(f"step_{s}_p50_s", [r[2][s] for r in plain], "s")
    if tracer is not None:
        traced = [r for r in runs if r[0]]
        L = res.layers
        LY.common(tracer, res)
        rec.report(res)
        L["operators.clean_s"] = H.median([r[2]["clean"] for r in traced])
        L["operators.dedup_s"] = H.median([r[2]["dedup"] for r in traced])
        last = traced[-1][2]
        L["operators.clean_keep_ratio"] = last["clean_info"].row_count / last["ingest_info"].row_count
        L["operators.dedup_keep_ratio"] = last["dedup_info"].row_count / last["clean_info"].row_count
        L["ann.build_s"] = H.median([r[2]["ann_build"] for r in traced])
        L["ann.search_batch_ms"] = H.median([r[2]["ann_search"] for r in traced]) * 1e3
        L["ann.recall_at_10"] = H.median(recalls)
        LY.overhead(
            {s: [r[2][s] for r in plain] for s in STEPS},
            {s: [r[2][s] for r in traced] for s in STEPS},
            res,
        )
