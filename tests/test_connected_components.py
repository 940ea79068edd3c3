"""connected_components' two tiers: the driver union-find for graphs of
at most ``CC_DRIVER_MAX_EDGES`` edge rows and the Spark hash-min /
large-star path above it must label every node identically."""

from __future__ import annotations

from lagoon_spark.checkpointing import handles, release
from lagoon_spark.operators import dedup


def _graph(spark):
    chain = [(10 + i, 11 + i) for i in range(12)]  # diameter 12
    clique = [(a, b) for a in range(40, 45) for b in range(40, 45) if a < b]
    star = [(60, 61 + i) for i in range(6)] + [(75, 60)]
    loops = [(80, 80), (81, 81), (81, 82)]
    dups = [(90, 91), (91, 90), (90, 91), (92, 91)]
    edges = spark.createDataFrame(
        chain + clique + star + loops + dups, "id_a long, id_b long"
    )
    # 99 twice (isolated: comes out twice), 10 and 80 also in edges
    # (come out once), 100 once
    nodes = spark.createDataFrame(
        [(99,), (99,), (100,), (10,), (80,)], "node long"
    )
    return edges, nodes


def test_driver_tier_matches_spark_tier(spark, monkeypatch):
    edges, nodes = _graph(spark)
    # max_iter=3 sends the chain through the Spark tier's star escape
    drv = dedup.connected_components(edges, nodes=nodes, max_iter=3)
    assert handles(drv) == ()  # the driver tier pins nothing
    got = sorted(map(tuple, drv.collect()))

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    spk = dedup.connected_components(edges, nodes=nodes, max_iter=3)
    assert handles(spk) != ()
    want = sorted(map(tuple, spk.collect()))
    release(spk)

    assert got == want
    assert drv.columns == spk.columns == ["node", "cluster"]
    labels = dict(got)
    assert {labels[10 + i] for i in range(13)} == {10}
    assert {labels[n] for n in range(40, 45)} == {40}
    assert {labels[n] for n in [60, 75] + list(range(61, 67))} == {60}
    assert (labels[80], labels[81], labels[82]) == (80, 81, 81)
    assert {labels[n] for n in (90, 91, 92)} == {90}
    assert got.count((99, 99)) == 2 and got.count((10, 10)) == 1
    assert (100, 100) in got


def test_driver_tier_without_edges_or_nodes(spark):
    empty = spark.createDataFrame([], "id_a int, id_b int")
    assert dedup.connected_components(empty).collect() == []
    nodes = spark.createDataFrame([(3,), (1,)], "node int")
    out = dedup.connected_components(empty, nodes=nodes)
    assert sorted(map(tuple, out.collect())) == [(1, 1), (3, 3)]
    assert out.schema["node"].dataType.simpleString() == "int"


def test_threshold_picks_the_tier(spark):
    """Exactly CC_DRIVER_MAX_EDGES edge rows run on the driver; one more
    row runs the Spark tier. Disjoint edges converge in the Spark
    tier's setup round, so the check stays cheap."""
    t = dedup.CC_DRIVER_MAX_EDGES
    rows = [(2 * i + 1, 2 * i) for i in range(t + 1)]
    at = dedup.connected_components(
        spark.createDataFrame(rows[:t], "id_a long, id_b long")
    )
    assert handles(at) == ()
    above = dedup.connected_components(
        spark.createDataFrame(rows, "id_a long, id_b long")
    )
    assert handles(above) != ()
    assert sorted(map(tuple, above.collect())) == sorted(
        (n, 2 * i) for i in range(t + 1) for n in (2 * i, 2 * i + 1)
    )
    release(above)
    assert at.count() == 2 * t


def test_spark_tier_evaluates_the_edge_frame_once(spark, monkeypatch):
    """Above the threshold the driver tier's collect and the Spark
    tier's edge pin share one evaluation of the edge frame: the stages
    below its join's shuffle run once, so a Python UDF feeding the
    join is called as often as in one evaluation of the frame."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def key(x):
        seen.add(1)
        return x

    n = 400
    left = spark.range(n, numPartitions=4).select(key("id").alias("k"))
    right = spark.range(n, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") - F.col("id") % 4).alias("root")
    )
    edges = left.hint("shuffle_merge").join(right, "k").select(
        F.col("k").alias("id_a"), F.col("root").alias("id_b")
    )
    # one evaluation's count: the optimizer may call the UDF more than
    # once per row (an inferred not-null filter repeats it)
    edges.write.format("noop").mode("overwrite").save()
    once, seen.value = seen.value, 0
    assert once >= n

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    out = dedup.connected_components(edges)
    assert handles(out) != ()
    got = dict(map(tuple, out.collect()))
    release(out)
    assert seen.value == once
    assert got == {i: i - i % 4 for i in range(n)}
