"""ingest_mix: how fast a file becomes queryable.

Each operation ingests one generated file through ``Lagoon.ingest`` (the
CLI path) and then asks the in-process server's ``/sql`` for an
aggregate over the new version — ``<name>_v<N>_typed`` for CSV/TSV,
``<name>_v<N>`` for JSONL, which has no typed view. Files come in groups
of three small ones and one large one, and the run stops at a group
boundary once the time is up, so every run sees the same mix. Half of
the ingests add a version to an existing name, and every ingest
invalidates the ``sql()`` view-registration memo, so the verifying query
takes the registration miss path.

Checks, all against the generator's own numbers: the version number,
row count, inferred column types (JsonType for JSONL) and the row count
and column sums the query returns.
"""

from __future__ import annotations

import random
import time

import gen
import harness as H
import layers as LY

GROUP = 4  # three small files, then a large one


def _query(op_id: int, f: gen.IngestFile, version: int) -> str:
    if f.fmt == "jsonl":
        return (
            f"/* op={op_id} */ SELECT COUNT(*) AS n, "
            "SUM(CAST(get_json_object(data, '$.qty') AS BIGINT)) AS s_qty, "
            "SUM(CAST(get_json_object(data, '$.amount') AS DOUBLE)) AS s_amount, "
            "COUNT(get_json_object(data, '$.note')) AS n_opt "
            f"FROM {f.name}_v{version}"
        )
    return (
        f"/* op={op_id} */ SELECT COUNT(*) AS n, SUM(qty) AS s_qty, "
        f"SUM(amount) AS s_amount, COUNT(opt) AS n_opt FROM {f.name}_v{version}_typed"
    )


def make_inputs(seed: int, work: str):
    files = gen.ingest_mix_files(seed, work)
    return {"files": files, "warm": _warm_files(work)}


def _warm_files(work: str) -> list[str]:
    """Tiny CSV and JSONL files for the warm-up: the JSON one starts the
    Python workers its type inference runs in."""
    rnd = random.Random(0)
    csv_path, json_path = f"{work}/warm.csv", f"{work}/warm.jsonl"
    with open(csv_path, "w") as fh:
        fh.write("a,b\n" + "".join(f"{i},{rnd.random():.3f}\n" for i in range(2, 200)))
    with open(json_path, "w") as fh:
        fh.write("".join(f'{{"a": {i}}}\n' for i in range(200)))
    return [csv_path, json_path]


def set_up(spark, warehouse: str, inputs, tracer, rec) -> dict:
    eng = H.new_engine(spark, warehouse)
    return {"eng": eng, "server": H.start_server(eng)}


def warm_up(state, inputs) -> None:
    """Ingest a tiny CSV and a tiny JSONL file and query each."""
    c = H.Client(state["server"].port)
    try:
        for i, path in enumerate(inputs["warm"]):
            info = state["eng"].ingest(path, f"warm{i}")
            H.expect_ok(c.sql(f"SELECT COUNT(*) FROM {info.typed_view_name or info.view_name}"))
    finally:
        c.close()


def tear_down(state) -> None:
    state["server"].stop()


def measure(state, inputs, seconds: float, tracer, rec, res: H.Result) -> None:
    eng, port = state["eng"], state["server"].port
    files = inputs["files"]
    versions: dict[str, int] = {}
    c = H.Client(port)
    ops = []  # (file, traced, ingest_s, to_query_s)
    cpu0 = H.cpu_seconds(eng.spark)
    t0 = time.perf_counter()
    try:
        # whole groups that fit in the window, at least one (two in a
        # traced run, so that large files run traced and untraced)
        g, group_s = 0, 0.0
        while g < (2 if tracer else 1) or seconds - (time.perf_counter() - t0) >= group_s:
            tg = time.perf_counter()
            for i in range(g * GROUP, (g + 1) * GROUP):
                f = files[i % len(files)]
                # alternate, shifted by one each group so large files
                # run both ways
                traced = tracer is not None and (i + g) % 2 == 1
                versions[f.name] = versions.get(f.name, 0) + 1
                v = versions[f.name]
                ts = time.perf_counter()
                with H.op(tracer, "ingest", traced):
                    info = rec.ingest(eng, f.path, f.name, traced)
                ti = time.perf_counter()
                op_id = 1_000_000 + i
                if tracer is not None:
                    tracer.register(op_id, "verify", traced)
                user = H.TRACED_USER if traced else H.BENCH_USER
                r = c.sql(_query(op_id, f, v), "csv", user)
                te = time.perf_counter()
                ops.append((f, traced, ti - ts, te - ts))
                check(res, f, info, v, r)
            group_s = time.perf_counter() - tg
            g += 1
    finally:
        c.close()
    wall = time.perf_counter() - t0
    res.detail["cpu_raw_ms_per_op"] = ((H.cpu_seconds(eng.spark) - cpu0) * 1e3 / len(ops), "ms", len(ops))

    plain = [o for o in ops if not o[1]]
    res.op_ms = [o[3] * 1e3 for o in plain]
    res.e2e["op_ms"] = H.median(res.op_ms)
    res.detail["ingest_rows_per_s"] = (sum(o[0].rows for o in ops) / wall, "1/s", len(ops))
    large = [o for o in plain if o[0].large]
    res.detail["ingest_mb_per_s"] = (
        sum(o[0].size for o in large) / 1e6 / sum(o[2] for o in large) if large else 0.0,
        "MB/s",
        len(large),
    )
    res.timing("ingest_small_p50_s", [o[2] for o in plain if not o[0].large], "s")
    res.timing("ingest_to_query_p50_s", [o[3] for o in plain], "s")
    if tracer is not None:
        LY.common(tracer, res)
        rec.report(res)
        LY.overhead(
            {"small": [o[3] for o in plain if not o[0].large],
             "large": [o[3] for o in plain if o[0].large]},
            {"small": [o[3] for o in ops if o[1] and not o[0].large],
             "large": [o[3] for o in ops if o[1] and o[0].large]},
            res,
        )


def check(res: H.Result, f: gen.IngestFile, info, version: int, r) -> None:
    want = [f.rows, f.sum_qty, f.sum_amount, f.n_opt]
    what = f"{f.path.rsplit('/', 1)[-1]} as {f.name} v{version}"
    res.check(info.version == version, f"{what}: got version {info.version}")
    res.check(info.row_count == f.rows, f"{what}: {info.row_count} rows")
    if f.fmt == "jsonl":
        res.check(info.json_type == f.json_type, f"{what}: JsonType {info.json_type}")
    else:
        types = {h: t for _p, h, t in info.columns}
        res.check(types == f.types, f"{what}: types {types}")
    ok = r.status == 200
    got = H.parse_csv_body(r.body)[1] if ok else []
    res.check(ok and H.same_rows(got, [want]), f"{what}: aggregate {got} != {want}")
