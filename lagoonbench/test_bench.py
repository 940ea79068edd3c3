"""The benchmark's own tests. Only the last one starts Spark.

    python3 -m pytest lagoonbench/test_bench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness as H  # noqa: E402
import ingest_mix  # noqa: E402
import layers  # noqa: E402
import llm_pipeline  # noqa: E402
import refdedup  # noqa: E402
import run  # noqa: E402
import sql_serve  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(directory):
        for fn in files:
            path = os.path.join(root, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic(workload, tmp_path):
    mod = sys.modules[workload]
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        mod.make_inputs(seed, str(tmp_path / d))
    a, b, c = (_digest(str(tmp_path / d)) for d in "abc")
    assert a and a == b
    assert a != c


def test_benchmark_json_names_match_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    res = H.Result(attempted=1)
    res.e2e = dict.fromkeys(run.E2E_UNITS, 1.0)
    for trace, names in ((0, run.E2E_UNITS), (1, layers.UNITS)):
        args = types.SimpleNamespace(workload="sql_serve", seed=1, trace=trace)
        last = json.loads(run.report(args, res)[1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert set(last["metrics"]) == set(names)


def _wrong_expectation_fails(res: H.Result) -> None:
    assert res.failed >= 1 and res.errors
    last = json.loads(run.report(types.SimpleNamespace(workload="x", seed=1, trace=0), _with_e2e(res))[1])
    assert last["correct"] is False and last["failed"] >= 1


def _with_e2e(res: H.Result) -> H.Result:
    res.e2e = dict.fromkeys(run.E2E_UNITS, 1.0)
    return res


def test_ingest_mix_wrong_expectation_fails(tmp_path):
    f = gen.ingest_mix_files(3, str(tmp_path))[0]
    info = types.SimpleNamespace(
        version=1, row_count=f.rows, json_type=f.json_type,
        columns=[(f"c{i}", h, t) for i, (h, t) in enumerate(f.types.items())],
    )
    body = f"n,s_qty,s_amount,n_opt\n{f.rows},{f.sum_qty},{f.sum_amount},{f.n_opt}\n"
    ok = H.Result()
    ingest_mix.check(ok, f, info, 1, H.Response(200, body.encode(), 0.0, 0.0))
    assert ok.failed == 0 and ok.attempted > 0
    f.sum_qty += 1  # the deliberately wrong expectation
    bad = H.Result()
    ingest_mix.check(bad, f, info, 1, H.Response(200, body.encode(), 0.0, 0.0))
    _wrong_expectation_fails(bad)


def test_sql_serve_wrong_expectation_fails(tmp_path):
    paths = gen.sql_tables(5, str(tmp_path))
    q = "SELECT c_custkey, c_name FROM customer_v1_typed WHERE c_custkey = 3"
    right = sql_serve.Request(1, "point", "point0", "csv", q, status=200, body=b"c_custkey,c_name\n3,Customer#000000003\n")
    wrong = sql_serve.Request(2, "point", "point0", "csv", q, status=200, body=b"c_custkey,c_name\n4,Customer#000000004\n")
    denied = sql_serve.Request(3, "denied", "denied0", "csv", "DROP VIEW x", status=200, body=b"")
    ok = H.Result()
    sql_serve.verify(paths, [right], ok)
    assert ok.failed == 0 and ok.attempted == 1
    bad = H.Result()
    sql_serve.verify(paths, [right, wrong, denied], bad)
    assert bad.failed == 2
    _wrong_expectation_fails(bad)


def test_llm_pipeline_wrong_expectation_fails(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    inputs = llm_pipeline.make_inputs(4, str(tmp_path))
    c = inputs["corpus"]
    n_keep = len(inputs["survivor_ids"])
    os.makedirs(inputs["out"])
    pq.write_table(pa.table({"doc_id": inputs["survivor_ids"]}), os.path.join(inputs["out"], "p.parquet"))
    hits = [
        {"query_id": q, "ix": int(ix)} for q, row in enumerate(inputs["exact"]) for ix in row
    ]

    def steps(dedup_rows):
        info = lambda n: types.SimpleNamespace(row_count=n)  # noqa: E731
        return {"ingest_info": info(c.rows), "clean_info": info(c.n_clean),
                "dedup_info": info(dedup_rows), "hits": hits}

    ok = H.Result()
    assert llm_pipeline.check(ok, inputs, steps(n_keep), "j") == 1.0
    assert ok.failed == 0
    bad = H.Result()
    llm_pipeline.check(bad, inputs, steps(n_keep + 1), "j")
    _wrong_expectation_fails(bad)


def test_reference_dedup_keeps_one_row_per_planted_cluster_at_most(tmp_path):
    c = gen.corpus(9, str(tmp_path), 120)
    import pyarrow.parquet as pq

    texts = pq.read_table(c.path, columns=["text"]).column("text").to_pylist()
    prose = [r for r in range(c.rows) if c.cluster_of[r] >= 0]
    keep = [prose[p] for p in refdedup.survivors([texts[r] for r in prose])]
    clusters = [c.cluster_of[r] for r in keep]
    assert len(set(clusters)) == len(clusters)
    assert len(keep) <= c.n_clusters


def test_exact_topk_finds_planted_neighbours():
    v = np.eye(4) + 0.01
    assert llm_pipeline.exact_topk(v, v[[2]], 1).tolist() == [[2]]


def test_run_exits_2_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "sql_serve", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""


def test_a_wrong_expectation_fails_the_whole_run(monkeypatch, capsys):
    """End to end, with Spark (about a minute): one ingest_mix group
    whose generator claims wrong column sums makes the run print a
    result with ``correct: false`` and exit 1."""
    import tempfile

    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    real = gen.ingest_mix_files

    def wrong(seed, out_dir):
        files = real(seed, out_dir)
        for f in files:
            f.sum_qty += 1
        return files

    monkeypatch.setattr(gen, "ingest_mix_files", wrong)
    assert run.main(["--workload", "ingest_mix", "--seed", "1", "--seconds", "1"]) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last["correct"] is False and 0 < last["failed"] < last["attempted"]
