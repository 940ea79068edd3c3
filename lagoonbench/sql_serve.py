"""sql_serve: the read path of the security-checked ``/sql`` endpoint.

Set-up ingests four generated parquet tables (TPC-H-shaped ``customer``,
``orders``, ``lineitem`` plus an ``events`` table) and starts an
in-process ``LagoonServer``. One closed-loop session then sends a fixed
mix over loopback HTTP until the time is up: point lookups, aggregates /
joins / windows, CSV and JSON exports of 5k-40k rows, ``/sources``
catalog searches and queries that must be denied. No request writes, so
the view-registration memo stays warm and ingest does nothing. One
session, not several: with two, a request's latency depends on what the
other session happens to run next to it on the two Spark cores, which
made the figures wander between runs.

Every answer is checked after the timed window: ``/sql`` results against
DuckDB running the same SQL over the same parquet files (rows sorted,
numbers rounded to six decimals), searches against the names the
generator's metadata implies, denials by status and error class.
"""

from __future__ import annotations

import http.client
import json
import random
import time
from dataclasses import dataclass

import gen
import harness as H
import layers as LY

# requests of each kind per cycle of 20: 40% / 25% / 15% / 15% / 5%
MIX = (("point", 8), ("agg", 5), ("export", 3), ("search", 3), ("denied", 1))
# request classes of each kind: query templates, export size x format
TEMPLATES = {"point": 4, "agg": 5, "export": 8, "search": 3, "denied": 3}
# a class's share of the mix
WEIGHTS = {f"{k}{i}": w / TEMPLATES[k] for k, w in MIX for i in range(TEMPLATES[k])}
# full cycles of the mix run before the window: after one cycle, some
# runs still served the window 1.5x slower than others (the JVM was
# still compiling the request paths); after two they agree
WARM_CYCLES = 2


@dataclass
class Request:
    op_id: int
    kind: str
    cls: str  # kind and template, a key of WEIGHTS
    fmt: str | None = None  # /sql response format
    sql: str | None = None
    params: str | None = None  # /sources query string
    want_names: tuple = ()  # search: expected dataset names
    # filled in by the session
    status: int = 0
    body: bytes = b""
    latency_s: float = 0.0
    first_byte_s: float = 0.0
    # traced in a --trace 1 run: every other request of each kind, and
    # of each class in turn
    trace_turn: bool = False
    traced: bool = False
    rows: int = 0  # result rows, counted while verifying


def _date(rnd: random.Random) -> str:
    return f"{rnd.randint(1993, 1999)}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"


def _point(rnd: random.Random, k: int) -> str:
    sz = gen.SQL_SIZES
    return [
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        f"FROM orders_v1_typed WHERE o_orderkey = {rnd.randint(1, sz['orders'])}",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM customer_v1_typed WHERE c_custkey = {rnd.randint(1, sz['customer'])}",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount "
        f"FROM lineitem_v1_typed WHERE l_orderkey = {rnd.randint(1, sz['orders'])}",
        "SELECT ev_id, user_id, ts, kind, value "
        f"FROM events_v1_typed WHERE ev_id = {rnd.randint(1, sz['events'])}",
    ][k % 4]


def _agg(rnd: random.Random, k: int) -> str:
    a = rnd.randint(1, gen.SQL_SIZES["orders"] - 2000)
    u = rnd.randint(1, 1980)
    d = _date(rnd)
    return [
        "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty, "
        "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
        f"FROM lineitem_v1_typed WHERE l_shipdate <= '{d}' GROUP BY l_returnflag",
        "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_totalprice) AS total "
        "FROM orders_v1_typed o JOIN customer_v1_typed c "
        "ON o.o_custkey = c.c_custkey "
        f"WHERE o.o_orderdate >= '{d}' GROUP BY c.c_mktsegment",
        "SELECT o.o_orderstatus, COUNT(DISTINCT o.o_orderkey) AS orders, "
        "SUM(l.l_quantity) AS qty FROM orders_v1_typed o "
        "JOIN lineitem_v1_typed l ON l.l_orderkey = o.o_orderkey "
        f"WHERE o.o_orderkey BETWEEN {a} AND {a + 2000} GROUP BY o.o_orderstatus",
        "SELECT user_id, ev_id, value, r FROM (SELECT user_id, ev_id, value, "
        "RANK() OVER (PARTITION BY user_id ORDER BY value DESC, ev_id) AS r "
        f"FROM events_v1_typed WHERE user_id BETWEEN {u} AND {u + 20}) t "
        "WHERE r <= 3",
        "SELECT kind, COUNT(*) AS n, AVG(value) AS mean_value, "
        f"MAX(value) AS max_value FROM events_v1_typed WHERE ts >= '{d}' "
        "GROUP BY kind",
    ][k % 5]


# rows per export, in turn; lineitem holds ~4 rows per order key
EXPORT_ROWS = (5_000, 15_000, 25_000, 40_000)


def _export_fmt(k: int) -> str:
    """CSV and JSON in turn, shifted by one each round of sizes: every
    round has all four sizes, and two rounds have every size in both
    formats."""
    return ("csv", "json")[(k + k // len(EXPORT_ROWS)) % 2]


def _export(rnd: random.Random, k: int) -> str:
    n_keys = EXPORT_ROWS[k % len(EXPORT_ROWS)] // 4
    a = rnd.randint(1, gen.SQL_SIZES["orders"] - n_keys)
    return (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_returnflag, l_shipdate FROM lineitem_v1_typed "
        f"WHERE l_orderkey BETWEEN {a} AND {a + n_keys - 1}"
    )


def _search(rnd: random.Random, k: int) -> tuple[str, tuple]:
    names = list(gen.SQL_META)
    if k % 3 == 0:
        name = rnd.choice(names)
        i = rnd.randrange(len(name) - 3)
        needle = name[i : i + 3]
        return f"q={needle}", tuple(n for n in names if needle in n)
    if k % 3 == 1:
        tag = rnd.choice(["tpch", "fact", "dimension", "clickstream"])
        return f"tag={tag}", tuple(n for n in names if tag in gen.SQL_META[n][1])
    col = rnd.choice(["o_orderkey", "c_custkey", "l_orderkey", "ev_id"])
    owner = {"o": "orders", "c": "customer", "l": "lineitem", "e": "events"}[col[0]]
    return f"column={col}", (owner,)


def _denied(rnd: random.Random, k: int) -> str:
    return [
        "INSERT INTO orders_v1_typed SELECT * FROM orders_v1_typed "
        f"WHERE o_orderkey = {rnd.randint(1, 99)}",
        "DROP VIEW customer_v1_typed",
        f"SELECT * FROM no_such_table_{rnd.randint(1, 99)}",
    ][k % 3]


def _cycle() -> list[str]:
    """One period of the mix (20 requests), interleaved by smooth
    weighted round robin so heavy kinds are spread out."""
    period = sum(w for _k, w in MIX)
    credit = dict.fromkeys((k for k, _w in MIX), 0)
    out = []
    for _ in range(period):
        for k, w in MIX:
            credit[k] += w
        best = max(credit, key=credit.get)
        credit[best] -= period
        out.append(best)
    return out


def requests_for(seed: int, stream: int, n: int) -> list[Request]:
    """A request sequence (stream 0 is measured, stream 1 warms up).
    The kinds follow a fixed cycle and every kind cycles through its
    classes, so every run does the same mix; the seed draws keys, dates
    and search terms."""
    rnd = random.Random(f"sql_serve:{seed}:{stream}")
    cycle = _cycle()
    seen = dict.fromkeys(cycle, 0)
    out = []
    for i in range(n):
        op_id = 1_000_000 * (stream + 1) + i
        kind = cycle[i % len(cycle)]
        k = seen[kind]
        seen[kind] += 1
        n_cls = TEMPLATES[kind]
        r = Request(op_id, kind, f"{kind}{k % n_cls}", trace_turn=(k + k // n_cls) % 2 == 1)
        if kind == "search":
            r.params, r.want_names = _search(rnd, k)
        else:
            body = {"point": _point, "agg": _agg, "export": _export, "denied": _denied}[kind](rnd, k)
            r.sql = f"/* op={op_id} */ {body}"
            r.fmt = _export_fmt(k) if kind == "export" else "csv"
        out.append(r)
    return out


# -- set-up ------------------------------------------------------------------


def load(eng, paths: dict, tracer, rec) -> None:
    for name, path in paths.items():
        descr, tags = gen.SQL_META[name]
        traced = tracer is not None
        with H.op(tracer, "ingest", traced):
            rec.ingest(eng, path, name, traced, description=descr, tags=tags)


def warm_up(state, inputs) -> None:
    """:data:`WARM_CYCLES` cycles of the mix, which has every class of
    request, with their own request ids: compiles the JVM code paths the
    timed window uses, so the window starts warm."""
    c = H.Client(state["server"].port)
    try:
        for r in requests_for(inputs["seed"], 1, WARM_CYCLES * len(_cycle())):
            if r.sql:
                resp = c.sql(r.sql, r.fmt)
                if r.kind != "denied":
                    H.expect_ok(resp)
            else:
                H.expect_ok(c.sources(r.params))
    finally:
        c.close()


# -- the workload interface ----------------------------------------------------


def make_inputs(seed: int, work: str):
    return {"seed": seed, "paths": gen.sql_tables(seed, work)}


def set_up(spark, warehouse: str, inputs, tracer, rec) -> dict:
    """Base load, server start and the first query, which registers the
    warehouse's views."""
    eng = H.new_engine(spark, warehouse)
    load(eng, inputs["paths"], tracer, rec)
    server = H.start_server(eng)
    c = H.Client(server.port)
    try:
        H.expect_ok(c.sql("SELECT COUNT(*) FROM customer_v1_typed"))
    finally:
        c.close()
    return {"eng": eng, "server": server}


def tear_down(state) -> None:
    state["server"].stop()


def serve(port, reqs, deadline, tracer, done, spark, res: H.Result) -> float:
    """Send ``reqs`` in turn until ``deadline``, collecting garbage
    (:func:`harness.quiesce`) before each cycle of the mix and probing
    the host's speed before each request. Returns the CPU seconds spent
    outside those collections."""
    c = H.Client(port)
    period = len(_cycle())
    cpu = 0.0
    try:
        for i, r in enumerate(reqs):
            if time.perf_counter() >= deadline:
                break
            if i % period == 0:
                if i:
                    cpu += H.cpu_seconds(spark) - cpu0
                H.quiesce(spark)
                cpu0 = H.cpu_seconds(spark)
            r.traced = tracer is not None and r.trace_turn
            if tracer is not None:
                tracer.register(r.op_id, r.kind, r.traced)
            user = H.TRACED_USER if r.traced else H.BENCH_USER
            res.probe()
            try:
                resp = c.sql(r.sql, r.fmt, user) if r.sql else c.sources(r.params, user)
            except (http.client.HTTPException, OSError) as e:
                # counted as failed by verify(); the client reconnects
                resp = H.Response(0, repr(e).encode(), 0.0, 0.0)
            r.status, r.body = resp.status, resp.body
            r.latency_s, r.first_byte_s = resp.total_s, resp.first_byte_s
            done.append(r)
    finally:
        c.close()
    if done:
        cpu += H.cpu_seconds(spark) - cpu0
    return cpu


def measure(state, inputs, seconds: float, tracer, rec, res: H.Result) -> None:
    spark = state["eng"].spark
    all_done: list[Request] = []
    reqs = requests_for(inputs["seed"], 0, 5_000)
    t0 = time.perf_counter()
    cpu = serve(state["server"].port, reqs, t0 + seconds, tracer, all_done, spark, res)
    wall = time.perf_counter() - t0
    res.detail["cpu_raw_ms_per_op"] = (cpu * 1e3 / len(all_done), "ms", len(all_done))
    verify(inputs["paths"], all_done, res)

    plain = [r for r in all_done if not r.traced]
    lat = [r.latency_s for r in plain]
    res.op_ms = [x * 1e3 for x in lat]
    by_cls: dict[str, list] = {}
    for r in plain:
        by_cls.setdefault(r.cls, []).append(r.latency_s)
    res.e2e["op_ms"] = H.mix_ms(by_cls, WEIGHTS)
    res.detail["sql_p50_ms"] = (H.median(res.op_ms), "ms", len(lat))
    res.detail["sql_p90_ms"] = (H.percentile(lat, 90) * 1e3, "ms", len(lat))
    res.detail["sql_ops_per_s"] = (len(all_done) / wall, "1/s", len(all_done))
    for kind, name in (
        ("point", "sql_point_p50_ms"), ("agg", "sql_agg_p50_ms"),
        ("export", "sql_export_p50_ms"), ("search", "search_p50_ms"),
        ("denied", "sql_denied_p50_ms"),
    ):
        res.timing(name, [r.latency_s for r in all_done if r.kind == kind and not r.traced], "ms", 1e3)
    if tracer is not None:
        report_layers(tracer, all_done, res)
        rec.report(res)


# -- verification ----------------------------------------------------------------


def verify(paths: dict, done: list[Request], res: H.Result) -> None:
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(
            f"CREATE VIEW {name}_v1_typed AS SELECT * FROM read_parquet('{path}')"
        )
    for r in done:
        what = f"{r.kind} op {r.op_id}"
        if r.kind == "denied":
            res.check(r.status == 403 and b"QueryDenied" in r.body, f"{what}: not denied ({r.status})")
        elif r.kind == "search":
            ok = r.status == 200
            names = sorted(i["name"] for i in json.loads(r.body)) if ok else []
            res.check(ok and names == sorted(r.want_names), f"{what}: {r.params} -> {names}")
        elif r.status != 200:
            res.check(False, f"{what}: HTTP {r.status} {r.body[:200]!r}")
        else:
            cur = con.execute(r.sql)
            cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            if r.fmt == "csv":
                header, got = H.parse_csv_body(r.body)
                ok = header == cols
            else:
                objs = H.parse_json_body(r.body)
                got = [[o.get(c) for c in cols] for o in objs]
                ok = all(set(o) <= set(cols) for o in objs)
            r.rows = len(got)
            res.check(ok and H.same_rows(got, want), f"{what}: result differs from DuckDB")
    con.close()


# -- per-layer metrics (traced run) -----------------------------------------------


def report_layers(tracer, done: list[Request], res: H.Result) -> None:
    LY.common(tracer, res)
    exports = [r for r in done if r.kind == "export" and r.traced and r.status == 200]
    LY.exports(tracer, exports, res)
    LY.overhead(
        {k: [r.latency_s for r in done if r.kind == k and not r.traced] for k, _ in MIX},
        {k: [r.latency_s for r in done if r.kind == k and r.traced] for k, _ in MIX},
        res,
    )
