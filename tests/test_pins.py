"""Cache lifecycle of pinned operator intermediates (round-10 verdict
item #3): every ``persist()``/checkpoint an operator takes must either
be unpersisted inside the operator or ride out on the result as a
handle that ``checkpointing.release`` frees. The contract test runs a
full dedup pipeline (exact → LSH pairs → clusters → survivor pick →
Jaccard verify) on the documents table, releases the results, and
asserts the session's block manager holds NO persisted RDDs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lagoon_spark.checkpointing import handles, release


def _persistent_rdd_count(spark) -> int:
    # the JVM-side map is authoritative: it includes localCheckpoint
    # blocks, which the Python-side bookkeeping never sees
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark, sf_small):
    return spark.read.parquet(os.path.join(sf_small, "documents.parquet"))


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    # other test modules may leave session-scoped caches; pin the
    # baseline so the emptiness assertion is about THIS pipeline
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    yield


def test_dedup_pipeline_leaves_no_cache(spark, sf_small):
    from lagoon_spark.operators import dedup

    docs = _docs(spark, sf_small).limit(400)

    # d04/d05: exact dedup takes no pins at all
    exact = dedup.exact_dedup(docs, ["text"], id_col="doc_id")
    assert exact.count() >= 0
    assert not handles(exact)

    # d06: LSH candidate pairs pin the signature dictionary
    sigs = dedup.minhash_signature(docs, "text", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    pairs.count()
    assert len(handles(pairs)) == 2
    release(pairs)

    # d11 → d26: clusters feed survivor selection; handles compose so
    # ONE release on the final frame frees the whole chain
    clusters = dedup.neardup_clusters(docs, "doc_id", "text")
    canon = dedup.keep_canonical(
        docs, "doc_id", "text", clusters_df=clusters
    )
    canon.count()
    release(canon)
    release(clusters)

    # d08: Jaccard verifier pins gram sets + the scored barrier
    jac = dedup.ngram_jaccard_pairs(
        docs.withColumn("__b", F.col("lang")),
        "doc_id",
        "text",
        block_cols=["__b"],
        min_jaccard=0.2,
    )
    jac.count()
    release(jac)

    assert _persistent_rdd_count(spark) == 0


def test_release_is_idempotent_and_safe_on_plain_frames(spark, sf_small):
    docs = _docs(spark, sf_small).limit(10)
    release(docs)  # no handles: no-op
    from lagoon_spark.operators import dedup

    sigs = dedup.minhash_signature(docs, "text", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    pairs.count()
    release(pairs)
    release(pairs)  # second call: no-op
    assert _persistent_rdd_count(spark) == 0


def test_connected_components_drops_superseded_rounds(spark, monkeypatch):
    from lagoon_spark.operators import dedup

    # the Spark tier is the one that pins; the driver tier would take
    # this small graph
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)

    # a 60-node chain forces many hash-min rounds and then the
    # large-star/small-star fallback — the worst case for checkpoint
    # accumulation (every round used to leave its blocks behind)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    cc = dedup.connected_components(edges, max_iter=5)
    got = cc.groupBy("cluster").count().collect()
    assert len(got) == 1 and got[0]["count"] == 61
    # superseded per-round checkpoints are already gone: only the
    # returned handles (hash-min labels + star-forest edges) are live
    assert _persistent_rdd_count(spark) <= len(handles(cc))
    release(cc)
    assert _persistent_rdd_count(spark) == 0


def test_pairwise_cosine_and_knn_release(spark, sf_small):
    from lagoon_spark.operators import similarity

    emb = (
        spark.read.parquet(os.path.join(sf_small, "embeddings.parquet"))
        .limit(200)
        .withColumn("__b", F.lit(1))
    )
    pc = similarity.pairwise_cosine(
        emb, "vec_id", "embedding", block_cols=["__b"], min_cosine=0.9
    )
    pc.count()
    release(pc)
    knn = similarity.knn_graph(emb, "vec_id", "embedding", k=3, dim=64)
    knn.count()
    release(knn)
    assert _persistent_rdd_count(spark) == 0
