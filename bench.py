"""Per-lane runner: times registry lanes through the noop sink.

    python bench.py [LANE ...] [--round N] [--plans DIR] [--suffix S]

Lane sets:

* no LANE: every registry lane, on $SPARK_GRAFT_SF_DIR (default
  /root/testdata/sf0.1);
* ``sf1``: the fixed 15-lane set (:data:`SF1_LANES`) on a
  ×$SPARK_GRAFT_SF1_FACTOR (default 10) replica of that directory,
  built unless $SPARK_GRAFT_SF1_DIR names one already built;
* otherwise each LANE is a registry key, a key prefix (``q116``) or a
  unique substring of one key.

Every lane is measured once, the same way, by :func:`run_lane`: one
untimed warm rep, then $SPARK_GRAFT_BENCH_REPS (default 3) timed reps,
each building a fresh plan inside the timer and consuming every output
column through ``write.format("noop")``. The record holds the median
wall, the Spark job count of the last rep, and the resource tag and
plan-operator counts of the plan that rep executed, read from the SQL
status store.

Prints one JSON line of at most :data:`LINE_MAX` bytes (the slowest
lanes that fit) and writes the full per-lane artifact to
``bench_full.json``; with ``--round N`` also to ``BENCH_FULL_rN.json``
(registry) or ``BENCH_SF1_rN.json`` (sf1). With ``--plans DIR`` each
lane's executed plan (``explain("formatted")`` layout) goes to
``DIR/<lane>_<suffix>.txt``.

Series break: the BENCH_r01–r13, BENCH_FULL_r10–r13 and BENCH_SF1_r12–
r13 artifacts came from the older scripts, which timed ``count()`` (a
plan Catalyst prunes: q101 loses both its joins) or a single noop rep.
Ratios compare only with artifacts of the same lane set that carry
``"timing": "noop"``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lagoon_spark.checkpointing import release
from lagoon_spark.queries import registry
from lagoon_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))
TIMING = "noop"
LINE_MAX = 2000  # the stdout line must fit a ~2 KB tail capture
ARTIFACT = {"registry": "BENCH_FULL", "sf1": "BENCH_SF1"}  # round files

# FIXED across rounds so the sf1 comparison is apples-to-apples: the 10
# slowest relational (q01–q50) lanes that still clear the 2 s floor at
# sf1 (q09/q29/q39 do not scale with the replica — window-over-small-
# group and driver-iterative lanes — and were swapped for q01/q03/q40)
# plus the 5 slowest shuffle-bound dedup lanes. Append, never reorder
# or remove: a lane missing from the prior artifact has no ratio.
SF1_LANES = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_left_join_customer_orders",
    "q08_nonequi_join",
    "q32_json_extract",
    "q37_json_containment",
    "q40_rank_family",
    "q41_cube",
    "q45_grouping_sets",
    "q48_variant_json",
    "q116_d29_dsir_resample",
    "q113_d26_keep_canonical",
    "q77_d19_decontamination",
    "q69_d11_neardup_clusters",
    "q64_d06_minhash_lsh_pairs",
]

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
)
PLAN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    *PY_NODES,
    "TakeOrderedAndProject",
    "Exchange",
    "BroadcastExchange",
    "HashAggregate",
    "Window",
)


def warm_up(spark, sf_dir: str) -> None:
    """Pay the one-off costs before any lane is timed: JVM and codegen,
    first touch of every base table (a cold table's footer decode and
    page-cache fill, q02 6.6 s cold vs 0.78 s warm at sf0.1, would land
    on whichever lane reads it first), and the Python worker pools.
    Scalar pandas_udf, mapInPandas and applyInPandas each run on a pool
    of their own eval type; warming one does not warm the others (a
    trivial mapInPandas after the scalar warm-up still paid ~3.3 s of
    32-worker spin-up), and each warmer imports numpy so the per-worker
    import is paid here too."""
    from pyspark.sql.functions import pandas_udf

    registry()["q12_distinct"].spark_fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).count()
    # lambda form: `from __future__ import annotations` stringizes type
    # hints, which pandas_udf's hint inference cannot read
    spark.range(1000, numPartitions=32).select(
        pandas_udf(lambda s: s, "long")("id")
    ).count()

    def batches(it):
        import numpy  # noqa: F401

        yield from it

    spark.range(32, numPartitions=32).mapInPandas(batches, "id long").count()
    spark.range(32, numPartitions=32).groupBy("id").applyInPandas(
        lambda _k, pdf: pdf, "id long"
    ).count()


def _py_probe(batches):
    import numpy as np

    for b in batches:
        ids = b["id"].to_numpy()
        b["id"] = (ids * 2654435761 % 1000003) + np.sqrt(ids + 1.0)
        yield b


def probes(spark, data_dir: str) -> dict[str, float]:
    """Four fixed jobs, one per host channel a lane can be bound by.
    This host is shared and walls drift ±30% with neighbour load; each
    probe drifts with its channel, so a lane's cross-round ratio is
    normalized by the probe of its resource tag. cpu: codegen'd
    arithmetic. shuffle: an exchange-bound aggregate (shuffle-heavy
    lanes once ran 20–60% hot while the cpu probe moved < 6%). scan: a
    full decode of the largest table (four lanes ran 1.3–1.4× slow on a
    window where cpu and shuffle both matched). python: an Arrow round
    trip with a numpy body. Each is warmed once, then the min of two."""
    largest = max(glob.glob(os.path.join(data_dir, "*.parquet")), key=_size)
    jobs = {
        "cpu": lambda: spark.range(3_000_000_000, numPartitions=96).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ),
        "shuffle": lambda: spark.range(20_000_000, numPartitions=32)
        .selectExpr("id % 1000000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .selectExpr("sum(`sum(v)`)"),
        # pmod bounds the sum: no ANSI overflow
        "scan": lambda: spark.read.parquet(largest).selectExpr(
            "sum(pmod(xxhash64(*), 1000003)) AS s"
        ),
        "python": lambda: spark.range(4_000_000, numPartitions=32)
        .mapInPandas(_py_probe, "id double")
        .selectExpr("sum(id)"),
    }

    def timed(job) -> float:
        t0 = time.perf_counter()
        job().collect()
        return time.perf_counter() - t0

    out = {}
    for tag, job in jobs.items():
        timed(job)
        out[tag] = round(min(timed(job), timed(job)), 3)
    return out


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def run_lane(
    spark,
    name: str,
    data_dir: str,
    reps: int = 3,
    plans: str | None = None,
    suffix: str = "cur",
) -> dict:
    """Measure one registry lane: one untimed warm rep, then ``reps``
    timed ones. Each rep builds a fresh plan inside the timer: the
    connected-components lanes do their real work eagerly at
    construction, checkpoint + count per round (q69 at 50k docs: 0.22 s
    timed from the write, ~6 s with construction). Each consumes every
    output column through the noop sink; ``count()`` lets Catalyst
    prune whole joins. Each rep releases its pins, so no timed rep
    reuses an earlier rep's checkpointed intermediates.

    Returns ``{"wall", "runs", "jobs", "tag", "ops"}``: the median
    timed wall, every timed wall, the Spark jobs of the last rep, and
    the resource tag and operator counts of the plan that rep executed.
    With ``plans``, that plan is written to
    ``<plans>/<name>_<suffix>.txt``."""
    sc = spark.sparkContext
    fn = registry()[name].spark_fn
    walls = []
    try:
        for i in range(reps + 1):
            group = f"bench:{name}:{i}"
            sc.setJobGroup(group, f"{name} rep{i}")
            t0 = time.perf_counter()
            df = fn(spark, data_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            release(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execution = store.executionsList(int(store.executionsCount()) - 1, 1).head()
    nodes = store.planGraph(execution.executionId()).allNodes()
    names = [nodes.apply(i).name() for i in range(nodes.size())]
    if plans:
        os.makedirs(plans, exist_ok=True)
        with open(os.path.join(plans, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(execution.physicalPlanDescription())
    ops = {op: names.count(op) for op in PLAN_OPS if op in names}
    # the channel the plan spends its time in: a Python eval node
    # dominates (worker pool + Arrow transfer), then a shuffle, then a
    # file scan, else compute
    if any(op in ops for op in PY_NODES):
        tag = "python"
    elif "Exchange" in ops:
        tag = "shuffle"
    elif any(n.startswith("Scan parquet") for n in names):
        tag = "scan"
    else:
        tag = "cpu"
    return {
        "wall": round(statistics.median(walls[1:]), 3),
        "runs": [round(w, 3) for w in walls[1:]],
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "tag": tag,
        "ops": ops,
    }


def pick_lanes(args: list[str]) -> tuple[str, list[str]]:
    """(lane set, lane names) for the positional arguments."""
    qs = registry()
    if not args:
        return "registry", sorted(qs)
    if args == ["sf1"]:
        return "sf1", SF1_LANES
    names = []
    for w in args:
        hits = (
            [k for k in qs if k == w]
            or [k for k in qs if k.startswith(w + "_")]
            or [k for k in qs if w in k]
        )
        if len(hits) != 1:
            raise SystemExit(f"{w!r} matches {sorted(hits)}")
        names.append(hits[0])
    return "named", names


def previous(lane_set: str, sf: str, factor: int | None) -> tuple[str | None, dict | None]:
    """The newest runner artifact of ``lane_set`` at the same data scale."""
    prefix = ARTIFACT.get(lane_set)
    if prefix is None:
        return None, None
    paths = sorted(
        glob.glob(os.path.join(HERE, f"{prefix}_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p))[1]),
    )
    for path in reversed(paths):
        try:
            with open(path) as fh:
                art = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if (art.get("timing"), art.get("sf"), art.get("replica_factor")) == (
            TIMING, sf, factor
        ):
            return os.path.basename(path), art
    return None, None


def compare(lanes: dict, probes_now: dict, prev: dict) -> tuple[dict, dict]:
    """Per-lane ratio of probe-normalized walls against ``prev``, under
    the probe of the lane's tag, and the lanes flagged as regressions:
    > 1.25× under EVERY probe, and above 0.2 s. Probes can drift apart
    (one host channel got faster); dividing a flat wall by the faster
    probe pushes borderline lanes over any single bar, while a real
    regression shows under all."""
    ratios, flags = {}, {}
    for name, rec in lanes.items():
        p = prev["lanes"].get(name)
        if not p or not p["wall"]:
            continue
        rs = {
            t: (rec["wall"] / probes_now[t]) / (p["wall"] / prev["probes"][t])
            for t in probes_now
        }
        r = rs[rec["tag"]]
        ratios[name] = round(r, 3)
        if min(rs.values()) > 1.25 and rec["wall"] > 0.2:
            flags[name] = round(r, 2)
    return ratios, flags


def regressions(
    spark, data_dir: str, lanes: dict, probes_now: dict, prev: dict, reps: int
) -> tuple[dict, dict]:
    """:func:`compare` against ``prev``, each flag then re-checked: the
    run's probes are timed once, minutes before most lanes, and host
    drift in between flags lanes of unchanged code (two runs of one
    tree at sf0.001 flagged 7 lanes at up to 1.62×). So the probes are
    taken again, each flagged lane is re-timed next to them, and a flag
    stays only if the lane is still > 1.25× under every fresh probe."""
    ratios, flags = compare(lanes, probes_now, prev)
    if flags:
        fresh = probes(spark, data_dir)
        again = {name: run_lane(spark, name, data_dir, reps) for name in flags}
        flags = compare(again, fresh, prev)[1]
    return ratios, flags


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def stdout_line(art: dict) -> str:
    """The one-line summary: headline, probes, and the slowest lanes'
    walls and jobs under short keys, as many as fit in LINE_MAX bytes
    (ties broken by key, printed in key order)."""
    lanes = art["lanes"]
    key = _short if len({_short(k) for k in lanes}) == len(lanes) else str
    head = {
        k: art[k]
        for k in (
            "metric", "value", "unit", "timing", "lane_set", "sf", "reps",
            "probes", "value_norm", "value_norm_relational",
            "norm_ratio_vs_prev",
        )
    }
    head["lanes_by_tag"] = {
        t: sum(1 for r in lanes.values() if r["tag"] == t)
        for t in ("cpu", "shuffle", "scan", "python")
    }
    head["norm_regressions_gt_1_25"] = {
        key(k): v
        for k, v in sorted(
            art["norm_regressions_gt_1_25"].items(), key=lambda kv: -kv[1]
        )[:8]
    }

    def line(names: list[str]) -> str:
        names = sorted(names)
        return json.dumps(
            {
                **head,
                "queries": {key(k): lanes[k]["wall"] for k in names},
                "jobs": {key(k): lanes[k]["jobs"] for k in names},
                "queries_elided": len(lanes) - len(names),
            },
            separators=(",", ":"),
        )

    kept: list[str] = []
    for name in sorted(lanes, key=lambda k: (-lanes[k]["wall"], k)):
        if len(line(kept + [name]).encode()) > LINE_MAX:
            break
        kept.append(name)
    return line(kept)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("lanes", nargs="*", help="nothing (registry), sf1, or lane names")
    ap.add_argument("--round", type=int, help="write the round artifact rN")
    ap.add_argument("--plans", help="directory for each lane's executed plan")
    ap.add_argument("--suffix", default="cur", help="plan file suffix")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    lane_set, names = pick_lanes(args.lanes)
    spark = get_spark("lagoon_spark_bench")

    data_dir, factor, build_sec, built = sf_dir, None, 0.0, None
    if lane_set == "sf1":
        from scale_smoke import build_replica, make_registry_docs

        factor = int(os.environ.get("SPARK_GRAFT_SF1_FACTOR", "10"))
        data_dir = os.environ.get("SPARK_GRAFT_SF1_DIR")
        if not data_dir:
            data_dir = built = tempfile.mkdtemp(prefix="lagoon_sf1_")
            build_sec = round(build_replica(spark, sf_dir, data_dir, factor), 1)
            # a verbatim-clone replica multiplies every exact-dup clique
            # by the factor, so all-pairs dedup output grows
            # quadratically by semantics (q64: ~770M pairs at 10×, OOM
            # at the bench heap). The documents table is replaced by the
            # linear-output generator, so the doc lanes measure engine
            # scaling; TPC-H relational lanes keep the verbatim clones.
            make_registry_docs(spark, 500_000).write.mode("overwrite").parquet(
                os.path.join(data_dir, "documents.parquet")
            )

    warm_up(spark, data_dir)
    probes_now = probes(spark, data_dir)
    lanes = {}
    for name in names:
        lanes[name] = run_lane(spark, name, data_dir, reps, args.plans, args.suffix)
        print(f"# {name}: {lanes[name]}", file=sys.stderr)
    prev_name, prev = previous(lane_set, sf_dir, factor)
    ratios, flags = (
        regressions(spark, data_dir, lanes, probes_now, prev, reps)
        if prev
        else ({}, {})
    )
    spark.stop()
    if built:
        shutil.rmtree(built, ignore_errors=True)

    total = round(sum(r["wall"] for r in lanes.values()), 3)
    # q01–q50 are the query-engine surface; the extension lanes include
    # codec-bound media lanes whose Python cost masks relational drift
    relational = sum(
        r["wall"] for k, r in lanes.items() if int(re.match(r"q(\d+)", k)[1]) <= 50
    )
    cpu = probes_now["cpu"]
    art = {
        "metric": {"sf1": "sf1_lane_wall_sec"}.get(lane_set, "total_query_wall_sec"),
        "value": total,
        "unit": "sec",
        "timing": TIMING,
        "series_break": "r1-r13 timed count() or one noop rep; not comparable",
        "lane_set": lane_set,
        "round": args.round,
        "sf": sf_dir,
        "replica_factor": factor,
        "replica_build_sec": build_sec,
        "reps": reps,
        "probes": probes_now,
        # the load-normalized headline: compare this across rounds,
        # never raw totals
        "value_norm": round(total / cpu, 3),
        "value_norm_relational": round(relational / cpu, 3),
        "prev_artifact": prev_name,
        "norm_ratio_vs_prev": (
            round(total / cpu / prev["value_norm"], 3)
            if prev and prev["reps"] == reps
            else None
        ),
        "lanes": lanes,
        "lanes_norm_ratio_vs_prev": ratios,
        "norm_regressions_gt_1_25": flags,
    }
    paths = [os.path.join(HERE, "bench_full.json")]
    if args.round and lane_set in ARTIFACT:
        paths.append(os.path.join(HERE, f"{ARTIFACT[lane_set]}_r{args.round}.json"))
    for path in paths:
        with open(path, "w") as fh:
            json.dump(art, fh, indent=1, sort_keys=True)
    print(stdout_line(art))


if __name__ == "__main__":
    main()
