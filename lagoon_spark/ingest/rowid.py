"""Deterministic 1-based row identity in file order (`ix`).

The reference zips the ingest stream with [1..]
(`src/backend/src/Lagoon/Util/Conduit.hs:37-60`, used at
`Ingest.hs:192,243`). Golden outputs and the multi-part (foreign-key)
ingest depend on this numbering, so it must be deterministic — and at
100 TB it must not involve a global sort or a driver collect of data.

Implementation: ``monotonically_increasing_id()`` is
``(partition_id << 33) + row_index_in_partition`` with a *dense*
per-partition index. Numbering must be **filename-major** for sharded
sources: Spark packs file splits into partitions sorted by SIZE (the
scheduler's bin-packing), so partition id order is not file order.
Rows are therefore grouped by (input file, partition); groups sort by
(file, pid) — splits of one file keep ascending pid = ascending byte
offset, since same-file splits are appended to the partition list in
offset order — and each group's rows are contiguous in ``mid`` within
their partition, so ``mid - min(mid per group)`` is the dense
in-group index. So:

1. one tiny job collects per-(file, partition) row counts + min ids
   (bytes proportional to #files × #partitions, not #rows);
2. a broadcast offset map turns (group, local_index) into the global
   1-based ix.

Two narrow scans, no shuffle, no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this many (file, partition) groups the offset state rides a
# broadcast-joined DataFrame instead of two create_map literals: a
# 100k-shard source would otherwise put ~200k map entries INTO THE
# PLAN TREE — driver memory, plan-serialization, and codegen all scale
# with plan size, at exactly the sharded-ingest shape where group
# count explodes. (Same literal-vs-broadcast tiering as
# text.with_hashed_linear_score.)
_MAP_LITERAL_MAX = 1000


def with_ix(df: DataFrame, ix_col: str = "ix") -> DataFrame:
    return with_ix_count(df, ix_col)[0]


def with_ix_count(df: DataFrame, ix_col: str = "ix") -> "tuple[DataFrame, int]":
    """:func:`with_ix` plus the number of rows it numbered: the
    per-group counts the numbering collects already sum to it, so a
    caller that writes the frame needs no count job of its own."""
    from pyspark.errors import AnalysisException

    base = df.withColumn("__mid", F.monotonically_increasing_id()).withColumn(
        "__pid", F.spark_partition_id()
    )
    try:
        tagged = base.withColumn("__file", F.input_file_name())
        tagged.schema  # force analysis: multi-source plans reject it
    except AnalysisException:
        # not a single file scan (e.g. the foreign-ingest join) — file
        # identity is meaningless there; partition order alone is the
        # original single-source numbering
        tagged = base.withColumn("__file", F.lit(""))
    groups = (
        tagged.groupBy("__file", "__pid")
        .agg(F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__min"))
        .collect()
    )  # #files × #partitions rows — metadata-sized
    offsets: list[tuple[str, int, int, int]] = []  # (file, pid, min_mid, offset)
    acc = 0
    for row in sorted(groups, key=lambda r: (r["__file"], r["__pid"])):
        offsets.append((row["__file"], row["__pid"], row["__min"], acc))
        acc += row["__n"]
    if not offsets:  # zero rows (e.g. a header-only streaming batch):
        # an empty create_map() is map<void,void> and indexing it with a
        # string key fails analysis — found by the streaming append
        # property test (hypothesis)
        return tagged.withColumn(ix_col, F.lit(0).cast("long")).drop(
            "__mid", "__pid", "__file"
        ), 0
    if len(offsets) > _MAP_LITERAL_MAX:
        # broadcast-join tier: the offsets live in a k-row DataFrame
        # broadcast to every task (no shuffle of the data side, same
        # as the map literal) and the plan stays O(1) in group count
        off_df = df.sparkSession.createDataFrame(
            [(f, int(p), int(m), int(off)) for f, p, m, off in offsets],
            "__file string, __pid int, __min long, __off long",
        )
        joined = tagged.join(F.broadcast(off_df), ["__file", "__pid"])
        ix = (
            F.col("__off") + (F.col("__mid") - F.col("__min")) + 1
        ).cast("long")
        # join-with-using reorders columns (keys first) — restore the
        # caller's column order, ix last, like the literal tier
        return joined.withColumn(ix_col, ix).select(*df.columns, ix_col), acc
    key = F.concat_ws("#", F.col("__file"), F.col("__pid").cast("string"))
    base_map = F.create_map(
        *[F.lit(x) for f, p, _m, off in offsets for x in (f"{f}#{p}", off)]
    )
    min_map = F.create_map(
        *[F.lit(x) for f, p, m, _off in offsets for x in (f"{f}#{p}", m)]
    )
    ix = (base_map[key] + (F.col("__mid") - min_map[key]) + 1).cast("long")
    return tagged.withColumn(ix_col, ix).drop("__mid", "__pid", "__file"), acc


def dense_order_ix(df: DataFrame, order_col: str, out_col: str = "ix"):
    """:func:`dense_order_ix_count` without the row count."""
    out, ranged, _n = dense_order_ix_count(df, order_col, out_col)
    return out, ranged


def dense_order_ix_count(df: DataFrame, order_col: str, out_col: str = "ix"):
    """Dense 1-based rank of ``order_col`` (values must be unique)
    without a single-task global window.

    Range-partition on the order column (parallel shuffle, sampled
    boundaries), then per-partition ``row_number`` plus a broadcast
    prefix-offset map — the ix-assignment scheme shared with
    :func:`with_ix`. ``repartitionByRange`` resamples boundaries per
    job, so the frame is checkpointed (``lagoon_spark.checkpointing.pin``)
    to pin ONE materialization for both the metadata-sized count job
    and the numbering job. Checkpoint (not persist) on purpose: a
    persisted partition lost to executor failure would silently
    RECOMPUTE with different range boundaries — duplicated/skipped ix
    with no error — whereas a lost checkpoint partition fails the job
    loudly and the whole assignment retries. When the session has a
    reliable checkpoint dir configured (``sc.setCheckpointDir``, the
    cluster deployment), ``pin`` upgrades to a fault-tolerant
    ``checkpoint()`` automatically.

    Returns ``(out_df, pinned, rows)``; the caller should
    ``checkpointing.unpin(pinned)`` after materializing ``out_df`` (e.g.
    after the parquet write) to free the checkpoint blocks. ``rows`` is
    the row count, summed from the per-partition counts the numbering
    collects anyway; ``pinned`` holds exactly those rows.
    """
    from pyspark.sql import Window as W

    from lagoon_spark.checkpointing import pin

    ranged = pin(
        df.repartitionByRange(F.col(order_col)).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    counts = ranged.groupBy("__pid").count().collect()  # metadata-sized
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[int(row["__pid"])] = acc
        acc += int(row["count"])
    if not offsets:  # zero rows
        return (
            ranged.withColumn(out_col, F.lit(0).cast("long")).drop("__pid"),
            ranged,
            0,
        )
    off_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    local_w = W.partitionBy("__pid").orderBy(order_col)
    out = ranged.withColumn(
        out_col, (off_map[F.col("__pid")] + F.row_number().over(local_w)).cast("long")
    ).drop("__pid")
    return out, ranged, acc


def dense_prefix_sum(
    df: DataFrame, order_col: str, value_col: str, out_col: str = "prefix"
):
    """Exclusive prefix sum of ``value_col`` over the total order of
    ``order_col`` (values must be unique) without a single-task window.

    Same two-phase scheme as :func:`dense_order_ix`: range-partition on
    the order column (parallel sampled-boundary shuffle), collect the
    metadata-sized per-partition value totals, broadcast them as prefix
    offsets, then run the running-sum window *inside* each range
    partition. A naive ``SUM() OVER (ORDER BY …)`` compiles to one
    unpartitioned window task — the classic 100 TB sort trap this
    avoids. The frame is checkpoint-pinned for the same
    resample-boundary reason as ``dense_order_ix``.

    Returns ``(out_df, pinned)``; unpersist ``pinned`` after
    materializing ``out_df``.
    """
    from pyspark.sql import Window as W

    from lagoon_spark.checkpointing import pin

    ranged = pin(
        df.repartitionByRange(F.col(order_col)).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    sums = (
        ranged.groupBy("__pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("__s"))
        .collect()
    )  # one row per partition — metadata-sized
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(sums, key=lambda r: r["__pid"]):
        offsets[int(row["__pid"])] = acc
        acc += int(row["__s"] or 0)
    if not offsets:  # zero rows
        return (
            ranged.withColumn(out_col, F.lit(0).cast("long")).drop("__pid"),
            ranged,
        )
    off_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    local_w = (
        W.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    running = F.coalesce(
        F.sum(F.col(value_col).cast("long")).over(local_w), F.lit(0)
    )
    out = ranged.withColumn(
        out_col, (off_map[F.col("__pid")] + running).cast("long")
    ).drop("__pid")
    return out, ranged
