"""The bench runner times what a lane computes: every output column
goes through the noop sink, and the plan it records is the plan that
ran. ``count()`` would let Catalyst prune q101's two joins."""

from __future__ import annotations

import json

import bench
from lagoon_spark.queries import registry

Q101 = "q101_d20_semantic_dedup"
LANES = (Q101, "q02_revenue_by_nation", "q79_m02_byte_features")
JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def test_run_lane_consumes_every_output_column(spark, sf_small):
    lanes = {n: bench.run_lane(spark, n, sf_small, reps=1) for n in LANES}
    for rec in lanes.values():
        assert len(rec["runs"]) == 1 and rec["wall"] == rec["runs"][0]
        assert rec["jobs"] >= 1
    assert sum(lanes[Q101]["ops"].get(j, 0) for j in JOINS) >= 2
    assert lanes["q02_revenue_by_nation"]["tag"] in ("shuffle", "scan")
    assert lanes["q79_m02_byte_features"]["tag"] == "python"

    # a registry-sized artifact, so the line must cap its lane maps
    names = sorted(registry())
    art = {
        "metric": "total_query_wall_sec",
        "value": 1.0,
        "unit": "sec",
        "timing": bench.TIMING,
        "lane_set": "registry",
        "sf": sf_small,
        "reps": 1,
        "probes": {"cpu": 0.5, "shuffle": 1.0, "scan": 0.2, "python": 0.4},
        "value_norm": 2.0,
        "value_norm_relational": 0.5,
        "norm_ratio_vs_prev": None,
        "lanes": {n: lanes[LANES[i % 3]] for i, n in enumerate(names)},
        "norm_regressions_gt_1_25": {n: 1.5 for n in names[:20]},
    }
    line = bench.stdout_line(art)
    assert "\n" not in line and len(line.encode()) <= 2048
    parsed = json.loads(line)
    assert isinstance(parsed, dict)
    assert 0 < len(parsed["queries"]) < len(names)
    assert parsed["queries_elided"] == len(names) - len(parsed["queries"])
    assert parsed["jobs"].keys() == parsed["queries"].keys()
    assert len(parsed["norm_regressions_gt_1_25"]) == 8


def test_compare_flags_a_lane_only_under_every_probe():
    """Each lane's ratio uses the probe of its tag; a flag needs > 1.25×
    under every probe and a wall above 0.2 s."""
    prev = {
        "probes": {"cpu": 1.0, "shuffle": 1.0},
        "lanes": {"a": {"wall": 1.0}, "b": {"wall": 1.0}, "e": {"wall": 0.05}},
    }
    now = {
        "a": {"wall": 2.0, "tag": "shuffle"},  # the shuffle channel is slow
        "b": {"wall": 3.0, "tag": "cpu"},  # slower under both probes
        "e": {"wall": 0.15, "tag": "cpu"},  # too short to flag
        "new": {"wall": 1.0, "tag": "cpu"},  # no previous wall
    }
    ratios, flags = bench.compare(now, {"cpu": 1.0, "shuffle": 2.0}, prev)
    assert ratios == {"a": 1.0, "b": 3.0, "e": 3.0}
    assert flags == {"b": 3.0}


def test_drifted_flags_are_retimed_before_they_stand(monkeypatch):
    """A flag from probes timed before a host slowdown does not stand:
    the flagged lanes are re-timed next to fresh probes, and only a
    lane still > 1.25× under every fresh probe stays flagged. Replays
    the drift of two runs of identical code (cpu probe 4.37 → 3.61 s,
    lanes flagged at 1.62×)."""
    prev = {
        "probes": {"cpu": 4.37, "shuffle": 2.0},
        "lanes": {"q41": {"wall": 1.0}, "q74": {"wall": 1.0}, "q02": {"wall": 1.0}},
    }
    # probes timed fast at the start; the lanes ran once the host slowed
    fast = {"cpu": 3.61, "shuffle": 1.65}
    lanes = {
        "q41": {"wall": 1.34, "tag": "cpu"},  # unchanged code, drift only
        "q74": {"wall": 1.34, "tag": "shuffle"},  # unchanged code, drift only
        "q02": {"wall": 2.2, "tag": "cpu"},  # a real regression
    }
    slow = {"cpu": 5.2, "shuffle": 2.4}
    retimed = []

    def fake_run_lane(spark, name, data_dir, reps=3, *a, **kw):
        retimed.append(name)
        return {"wall": {"q02": 2.9}.get(name, 1.34), "tag": lanes[name]["tag"]}

    monkeypatch.setattr(bench, "probes", lambda spark, data_dir: slow)
    monkeypatch.setattr(bench, "run_lane", fake_run_lane)
    assert set(bench.compare(lanes, fast, prev)[1]) == {"q41", "q74", "q02"}
    ratios, flags = bench.regressions(None, "sf", lanes, fast, prev, 1)
    assert sorted(retimed) == ["q02", "q41", "q74"]
    assert ratios == bench.compare(lanes, fast, prev)[0]
    assert flags == {"q02": 2.44}
