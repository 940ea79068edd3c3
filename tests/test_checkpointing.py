"""Lineage-pinning mode selection (lagoon_spark.checkpointing) and the
long-diameter connected-components escape hatch.

The reliable-checkpoint test runs in a subprocess with its own
SparkSession: ``setCheckpointDir`` is irreversible on a SparkContext,
and the shared session fixture must keep exercising the local
(default) mode for the rest of the suite.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

from pyspark.sql import functions as F
import pytest


def test_long_chain_escapes_to_star_algorithm(spark, monkeypatch):
    """A 200-node chain has diameter 200: hash-min propagation cannot
    converge in 3 rounds, so connected_components must finish on the
    large-star/small-star path — and still label every node with the
    global min (0). The driver tier is switched off: this is the Spark
    tier's test."""
    from lagoon_spark.operators import dedup
    from lagoon_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(edges, max_iter=3)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["cluster"] == 0 for r in rows)


def test_star_handles_multiple_components_and_partial_convergence(
    spark, monkeypatch
):
    """Two components (a long chain and a converged triangle) plus an
    isolated node: the star escape must fix only the unconverged
    component and leave the rest intact (Spark tier: the driver tier is
    switched off)."""
    from lagoon_spark.operators import dedup
    from lagoon_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)

    chain = [(100 + i, 100 + i + 1) for i in range(80)]
    triangle = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(chain + triangle, "id_a long, id_b long")
    nodes = spark.createDataFrame([(999,)], "node long")
    out = connected_components(edges, nodes=nodes, max_iter=2)
    got = {r["node"]: r["cluster"] for r in out.collect()}
    assert all(got[100 + i] == 100 for i in range(81))
    assert got[1] == got[2] == got[3] == 1
    assert got[999] == 999


def test_star_components_directly(spark):
    from lagoon_spark.operators.dedup import _star_components

    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (9, 8), (7, 7)],
        "src long, dst long",
    )
    got = {r["node"]: r["__root"] for r in _star_components(pairs).collect()}
    # self-loop (7,7) drops out entirely; chains collapse to their min
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}


@pytest.mark.slow  # heavyweight soak lane (round-12 verdict #3)
def test_reliable_checkpoint_mode_when_dir_configured(tmp_path):
    """With sc.setCheckpointDir configured (the cluster deployment),
    checkpointing.pin must upgrade to reliable checkpoint() — files
    appear under the dir — and dense_order_ix / connected_components
    results must be identical to the local mode."""
    ckpt = tmp_path / "ckpt"
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(sys.path[0])!r})
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession, functions as F
        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setCheckpointDir({str(ckpt)!r})

        from lagoon_spark.ingest.rowid import dense_order_ix
        from lagoon_spark.operators import dedup
        from lagoon_spark.operators.dedup import connected_components

        dedup.CC_DRIVER_MAX_EDGES = 0  # the Spark tier pins; test it

        df = spark.range(0, 5000).select(
            (F.col("id") * 7919 % 100003).alias("ord")
        )
        out, pinned = dense_order_ix(df, "ord")
        rows = out.orderBy("ord").collect()
        assert [r["ix"] for r in rows] == list(range(1, 5001)), "ix not total"

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "id_a long, id_b long"
        )
        cc = connected_components(edges, max_iter=3)
        assert all(r["cluster"] == 0 for r in cc.collect()), "cc labels wrong"

        import os
        found = False
        for root, _dirs, files in os.walk({str(ckpt)!r}):
            if files:
                found = True
                break
        assert found, "no reliable checkpoint files written"
        print("RELIABLE_OK")
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "RELIABLE_OK" in proc.stdout, proc.stdout + proc.stderr
