"""Streaming operators over the events stream.

Scale story: every operator here is expressed so the streaming and
batch plans share one builder —

* ``windowed_event_stats``: tumbling event-time windows + watermark.
  State per (window, event_type) only; late data beyond the watermark
  is dropped, so state is bounded regardless of input volume.
* ``sessionize_stream``: ``session_window`` gap sessions (native Spark
  state store); ``sessionize_batch`` is the identical semantics as a
  lag/cumsum window-function plan (SQL-expressible → DuckDB oracle).
* ``stateful_user_counts``: ``applyInPandasWithState`` — the custom-
  stateful-operator seam (per-key Arrow batches + a GroupState handle,
  processing-time timeouts evict idle keys, so state stays bounded).

On a real cluster the source would be Kafka/files-on-S3; the tests
drive the same plans from a parquet file stream with
``trigger(availableNow=True)`` and a memory sink, then assert parity
with the batch plan the DuckDB oracle already gates.
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

GAP_MICROS = 30 * 60 * 1_000_000  # 30-minute session gap


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (one file = one batch).

    The ``ts`` physical type varies across driver testdata generations
    (TIMESTAMP(NANOS) vs timestamp[us]), so the parquet footer decides
    the read strategy — the same probe the batch path uses
    (``session._nano_ts_columns``):

    * ``ns`` → ``nanosAsLong`` int64 scan + exact integer DIV to
      TIMESTAMP_NTZ (no double round-trip);
    * ``us``/``ms`` without timezone → read TIMESTAMP_NTZ directly;
    * instant-annotated (tz-aware) → read TIMESTAMP, cast to NTZ under
      the pinned UTC session zone (instant-preserving).
    """
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events_path = os.path.join(sf_dir, "events.parquet")
    ts_type = ds.dataset(events_path, format="parquet").schema.field("ts").type
    is_nano = pat.is_timestamp(ts_type) and ts_type.unit == "ns"
    tz_aware = pat.is_timestamp(ts_type) and ts_type.tz is not None

    if is_nano:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_field = StructField("ts", LongType())
    elif tz_aware:
        from pyspark.sql.types import TimestampType

        ts_field = StructField("ts", TimestampType())
    else:
        ts_field = StructField("ts", TimestampNTZType())

    schema = StructType(
        [
            StructField("event_id", LongType()),
            ts_field,
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    # the file stream source requires a directory; select the single
    # table file with a glob filter
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if is_nano:
        raw = raw.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    elif tz_aware:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return raw


def windowed_event_stats(
    events: DataFrame, window: str = "1 hour", watermark: str | None = "2 hours"
) -> DataFrame:
    """Tumbling event-time window × event_type: count + exact value sum.

    One builder for both modes: a streaming input gets a watermark (so
    the state store can emit+evict closed windows); a batch input runs
    the identical aggregation and is what the DuckDB oracle checks.
    The sum goes through DECIMAL so batch, streaming, and the oracle
    agree bitwise (float accumulation order differs between engines).
    """
    if events.isStreaming:
        # watermarks require TIMESTAMP (not NTZ); session tz is pinned
        # UTC so the LTZ round-trip below is instant-preserving
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        if watermark:
            events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
    )


def sessionize_batch(events: DataFrame, gap_micros: int = GAP_MICROS) -> DataFrame:
    """Gap-based sessionization as a window-function plan (batch).

    Classic two-window formulation: flag rows whose gap to the previous
    event (per user, event-time order, event_id tiebreak) exceeds the
    gap, then a running sum of flags numbers the sessions. Two window
    functions over the same (user_id, ts) sort → Catalyst executes one
    shuffle + one sort, reused by both.
    """
    from pyspark.sql import Window as W

    ev = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    order = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("us") - F.lag("us").over(order)) > gap_micros, 1
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(order.rowsBetween(W.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """The same session semantics on a stream via native session
    windows (state-store backed, watermark-evicted)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
) -> DataFrame:
    """Online exact dedup: first event per key wins.

    Streaming input → ``dropDuplicatesWithinWatermark``: the state store
    keeps one entry per key only until the watermark passes it, so state
    is bounded by key cardinality *per watermark horizon* — the only way
    streaming dedup survives unbounded input. Batch input → plain
    ``dropDuplicates`` (what the DuckDB oracle gates: one survivor per
    key; survivor *identity* is pinned by min event_id in the query
    layer since both engines pick arbitrarily otherwise).
    """
    if events.isStreaming:
        return (
            events.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys)
        )
    return events.dropDuplicates(keys)


def error_purchase_join_stream(
    left: DataFrame,
    right: DataFrame,
    horizon_sec: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: purchases within ``horizon_sec``
    after an error, per user — the streaming twin of the batch
    range-join query (t02).

    Both sides carry watermarks and the join condition bounds the
    event-time distance, so the state store can evict rows once the
    other side's watermark passes the horizon — the condition is not
    just semantics, it is what makes the join's state finite.
    """
    l = (
        left.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("value"),
        )
    )
    return l.join(
        r,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")),
    ).select("error_id", "user_id", "purchase_id", "value")


_STATE_SCHEMA = StructType([StructField("n", LongType())])
_COUNT_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampNTZType()),
    ]
)


def stateful_user_counts(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator: running per-user event count.

    ``applyInPandasWithState`` — each trigger delivers the key's new
    rows as Arrow batches; the running total lives in the state store
    (a single LongType per key, so state size is O(distinct users),
    independent of event volume). With a processing-time timeout idle
    keys are evicted. This is the template for any reference-less
    stateful operator (e.g. hypertable rollups, online dedup).
    """

    def update(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n = state.get[0] if state.exists else 0
        last = None
        for pdf in pdfs:
            n += len(pdf)
            m = pdf["ts"].max()
            last = m if last is None else max(last, m)
        state.update((n,))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_ts": [last]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_COUNT_OUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


_TOTAL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("micro_total", LongType()),
    ]
)


def tws_available() -> bool:
    """``transformWithStateInPandas`` needs protobuf in the Python worker
    (its driver-side state protocol is protobuf-encoded); gate on it so
    environments without the wheel fall back loudly, not with a worker
    crash deep inside a microbatch."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_value_totals(events: DataFrame) -> DataFrame:
    """Running per-user event count + value total via ``transformWithState``
    (the Spark 4 arbitrary-state API; requires the RocksDB state store).

    Exactness across batch/stream/oracle: values are fixed-pointed to
    integer micros with ``floor(v*1e6 + 0.5)`` — identical IEEE double
    ops in Spark expressions, numpy, and DuckDB — and accumulated in
    integer arithmetic, which is associative, so accumulation order
    (shuffle nondeterminism, trigger slicing) cannot change the result.
    State is two int64s per user — O(distinct users), independent of
    event volume.
    """
    if not events.isStreaming:
        micro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro).alias("micro_total"),
        )

    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package in the "
            "Python worker; install protobuf or use stateful_user_counts "
            "(applyInPandasWithState) instead"
        )

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", StructType([StructField("n", LongType()), StructField("micro", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            import numpy as np

            if self._state.exists():
                n, micro = self._state.get()
            else:
                n, micro = 0, 0
            for pdf in rows:
                n += len(pdf)
                micro += int(
                    np.floor(pdf["value"].to_numpy(dtype="float64") * 1e6 + 0.5)
                    .astype("int64")
                    .sum()
                )
            self._state.update((n, micro))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "micro_total": [micro]}
            )

        def close(self) -> None:
            pass

    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=_TOTAL_OUT,
        outputMode="Update",
        timeMode="None",
    )


def windowed_type_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = "2 hours"
) -> DataFrame:
    """Counts per (tumbling window, event_type) — the STREAMABLE half
    of a windowed top-k ("trending types"). Rank-within-window is not
    a time-windowed aggregation, so Structured Streaming cannot emit
    it incrementally; the standard pattern splits the op: this
    watermarked aggregation runs on the stream, and
    :func:`finalize_topk` ranks closed windows on the sink side
    (foreachBatch / the downstream batch hop)."""
    if events.isStreaming:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        if watermark:
            events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


def finalize_topk(counts: DataFrame, k: int = 2) -> DataFrame:
    """Rank the windowed counts and keep the top ``k`` per window —
    the batch/sink half of the windowed top-k. Deterministic: ties
    break on the type name."""
    from pyspark.sql import Window as W

    w = W.partitionBy("bucket_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("bucket_start", "event_type", "n_events", "rank")
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source stream (the landing-zone
    shape for continuous corpus cleaning). Streaming file sources
    refuse inference, so the schema is stated explicitly."""
    # the file stream source requires a directory; select the single
    # table file with a glob filter (same trick as read_events_stream)
    return (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, "
            "source string, n_chars bigint"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def quality_gate(
    docs: DataFrame,
    *,
    weights: "list[float] | None" = None,
    weights_df: "DataFrame | None" = None,
    min_score: float = 0.5,
    min_tokens: int = 3,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Row-local document quality gate — the SAME plan batch or
    streaming: hashed linear classifier score (trained ``weights`` or
    the deterministic pseudo-table, `text.hashed_linear_score`) plus
    token-count bounds. No window, no state, no shuffle — a pure map,
    so the streaming deployment (``readStream → quality_gate →
    writeStream``) works under any trigger and the batch twin is
    oracle-checkable. This is the serving half of the d27/d28/d30
    quality plane run continuously over a landing zone.

    The score and token count come from
    :func:`text.hashed_score_struct`, one struct computed once per row
    and passed through a generator barrier (``explode`` of a one-element
    array), so the per-token rolling-hash fold runs once; the filter and
    the output read the struct's fields. The weight-table tiering is
    :func:`text.packed_weights`, shared with
    :func:`text.with_hashed_linear_score`: no ``weights`` uses the
    deterministic pseudo-table, and up to ``WEIGHTS_LITERAL_MAX_F``
    coefficients embed in the expression as a literal array; past
    that, or with an explicit ``weights_df``, the table crosses the
    plan as one broadcast row (a stream-static broadcast join) read
    through ``weights_col``, never as expression text, so a
    millions-of-bins production table serves in the same streaming
    plan."""
    from lagoon_spark.operators.text import hashed_score_struct, packed_weights

    # score + token count as ONE let-bound struct materialized through
    # a generator barrier: the round-12 plan ran the per-token rolling-
    # hash fold 6× per row (score guard / sum / mean divisor, doubled
    # again by the pushed-down keep filter); the staged struct computes
    # it once and both the filter and the output read attributes.
    one = packed_weights(docs.sparkSession, weights, weights_df)
    if one is None:
        base = docs
        packed = hashed_score_struct("text", weights=weights)
    else:
        base = docs.join(F.broadcast(one))
        packed = hashed_score_struct("text", weights_col="__weights")
    staged = base.select(
        "doc_id", F.explode(F.array(packed)).alias("__q")
    )
    scored = staged.select(
        "doc_id",
        F.col("__q.quality_score").alias("quality_score"),
        F.col("__q.n_tokens").cast("int").alias("n_tokens"),
    )
    return scored.filter(
        (F.col("quality_score") >= min_score)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
    )


def clean_gate(
    docs: DataFrame,
    text_col: str,
    *,
    id_col: str = "doc_id",
    min_words: int = 10,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> DataFrame:
    """Continuous structural-cleaning gate: C4 page cleaning (line
    rules + page drops) feeding the Gopher quality rules over the
    CLEANED text, as ONE row-local plan — like :func:`quality_gate`,
    it has no window, no state and no shuffle, so the identical plan
    runs batch (oracle-checkable) or ``readStream → writeStream``
    under any trigger. Returns per-document structural counters, the
    C4 page verdict, and the conjunction keep flag.

    This is the first-pass crawl cleaner run continuously over a
    landing zone: at 100 TB it executes at scan speed on whatever
    partitioning the source delivers."""
    from lagoon_spark.operators.corpus import c4_clean
    from lagoon_spark.operators.text import gopher_keep, gopher_signals

    cleaned = c4_clean(docs, id_col, text_col)
    sig = gopher_signals(F.col("clean_text"))
    keep = F.col("keep") & gopher_keep(
        sig,
        min_words=min_words,
        max_words=max_words,
        min_stopwords=min_stopwords,
    )
    return cleaned.select(
        id_col,
        "n_kept_lines",
        F.length("clean_text").cast("int").alias("clean_len"),
        F.col("keep").alias("c4_keep"),
        keep.alias("keep"),
    )


def signature_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Online near-duplicate dedup by MinHash SIGNATURE equality — the
    d04/d05 signature-collapse tier run continuously: a document whose
    full 16-hash signature was already seen is a near-duplicate (the
    highest-precision LSH tier, one band of 16 rows) and is dropped.

    Batch: min-id survivor per signature (the oracle-checkable twin).
    Streaming: ``dropDuplicatesWithinWatermark`` on the signature key —
    one survivor per signature, but WHICH member survives is
    first-arrival (arbitrary inside a micro-batch), so cross-mode
    parity is defined on the signature set, not survivor ids —
    ONE stateful operator whose state holds a hash per distinct
    signature inside the watermark horizon, so state is bounded by the
    arrival rate × horizon, never by corpus size. The signature itself
    is a row-local JVM fold (no Python), so the stream runs at map
    speed between state lookups; ``ts_col``/``watermark`` are required
    on the stream path.
    """
    from pyspark.sql import Window as W

    from lagoon_spark.operators.dedup import minhash_signature

    sigs = minhash_signature(
        docs, text_col, num_hashes=num_hashes, method="portable"
    )
    keyed = sigs.withColumn(
        "sig_key",
        F.array_join(
            F.transform(F.col("minhash"), lambda x: x.cast("string")), "_"
        ),
    )
    if keyed.isStreaming:
        if not (ts_col and watermark):
            raise ValueError("streaming signature_dedup needs ts_col + watermark")
        return (
            keyed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["sig_key"])
            .select(id_col, "sig_key")
        )
    w = W.partitionBy("sig_key").orderBy(id_col)
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "sig_key")
    )
