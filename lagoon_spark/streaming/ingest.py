"""Streaming ingest — continuous file-arrival ingestion.

The reference is batch-only: ``lagoon ingest <file>`` runs once per
file (`src/backend/src/Lagoon/Ingest.hs:82-132`). At 100 TB a corpus
is not a file, it is a *flow* — crawl output landing in object storage
hour after hour. This module extends the reference's ingest plane to
that shape the Spark-first way: Structured Streaming's file source
does checkpointed, exactly-once file discovery.

Two modes:

* ``versions`` — every newly-arrived file becomes a NEW VERSION of the
  dataset through the ordinary ``Lagoon.ingest`` path: same two-pass
  inference, same catalog/ACL/golden-dump visibility, same rollback on
  failure. Discovery streams a ``binaryFile`` source projected to
  ``path`` only (column pruning keeps file contents unread), so the
  stream checkpoint carries the processed-file log and a restart
  resumes exactly where it left off. Per-file idempotency rides the
  reference's own SUID mechanism (A17, `Interface/Ingest.hs:160-174`):
  the path+mtime is the source identifier, so a replayed batch finds
  the existing version instead of duplicating it.

* ``append`` — all arriving files grow ONE source. Each micro-batch
  goes through the same per-format loader as a one-shot ingest
  (``ingest/load.py``), with the running state this module saves
  after every committed batch: rows append with the monotone ``ix``
  continuing, the type lattice folds incrementally, and only a
  widening batch re-casts or rewrites history. This module keeps what
  only a stream has: discovery, the format and CSV dialect pinned on
  the first batch, the state file and the replay skip.

Exactly-once: ``foreachBatch`` is at-least-once under failure
recovery, so append mode records the last committed batch id in its
state file and skips replays; versions mode is idempotent per file via
SUID. Single-writer per dataset is assumed (the reference's ingest
holds a Postgres transaction for the same reason).
"""

from __future__ import annotations

import os

from lagoon_spark.ingest import csv as csvmod
from lagoon_spark.ingest.load import LoadState, load


def _local(path: str) -> str:
    """file:/x or file:///x URI → filesystem path; plain paths pass."""
    if path.startswith("file:"):
        stripped = path[len("file:") :]
        while stripped.startswith("//"):
            stripped = stripped[1:]
        return stripped
    return path


class StreamIngestor:
    """Continuous ingestion of a watched directory into the catalog.

    ``run_available()`` processes everything currently in the directory
    and returns (trigger availableNow) — the testable unit and also the
    cron-shaped deployment. ``start(processing_time=...)`` leaves a
    long-lived query running for a true continuous deployment.
    """

    def __init__(
        self,
        engine,
        directory: str,
        name: str,
        *,
        checkpoint_dir: str,
        mode: str = "versions",
        file_pattern: str | None = None,
        has_headers: bool = True,
        delimiter: str | None = None,
        quote: str | None = '"',
        description: str | None = None,
        tags: list[str] | None = None,
        file_type: str | None = None,
    ):
        if mode not in ("versions", "append"):
            raise ValueError(f"unknown streaming-ingest mode {mode!r}")
        from lagoon_spark import security as _sec

        # fail closed at construction, not first batch: the stream
        # owner needs the same rights a one-shot ingest would check
        engine._check_can_add_version(name, _sec)
        self.engine = engine
        self.directory = directory
        self.name = name
        self.checkpoint_dir = checkpoint_dir
        self.mode = mode
        self.file_pattern = file_pattern
        self.has_headers = has_headers
        self.delimiter = delimiter
        self.quote = quote
        self.description = description
        self.tags = tags
        self.file_type = file_type
        self._state_path = os.path.join(
            engine.warehouse, "stream", f"{name}.append.json"
        )

    # -- plumbing ------------------------------------------------------------

    def _discovery_stream(self):
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        # binaryFile's fixed schema, stated explicitly — streaming file
        # sources refuse to infer
        schema = StructType(
            [
                StructField("path", StringType()),
                StructField("modificationTime", TimestampType()),
                StructField("length", LongType()),
                StructField("content", BinaryType()),
            ]
        )
        reader = self.engine.spark.readStream.format("binaryFile").schema(schema)
        if self.file_pattern:
            reader = reader.option("pathGlobFilter", self.file_pattern)
        # path+mtime only: binaryFile prunes the content column, so
        # discovery never reads file bodies — the per-batch ingest does
        return reader.load(self.directory).select("path", "modificationTime")

    def _foreach(self, batch_df, batch_id: int) -> None:
        files = sorted(
            (r["path"], r["modificationTime"])
            for r in batch_df.select("path", "modificationTime").collect()
        )
        # each micro-batch is one warehouse write transaction: a second
        # writer (another stream, a concurrent one-shot ingest) blocks
        # on the lock instead of interleaving catalog writes
        with self.engine.catalog.writer_lock():
            if self.mode == "versions":
                self._batch_versions(files)
            else:
                self._batch_append(files, batch_id)

    def start(self, *, processing_time: str | None = None, available_now: bool = False):
        writer = self._discovery_stream().writeStream.foreachBatch(
            self._foreach
        ).option("checkpointLocation", self.checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.queryName(f"lagoon_ingest_{self.name}").start()

    def run_available(self) -> None:
        """Ingest everything new in the directory, then return."""
        q = self.start(available_now=True)
        q.awaitTermination()

    # -- versions mode -------------------------------------------------------

    def _batch_versions(self, files) -> None:
        for path, mtime in files:
            self.engine.ingest(
                _local(path),
                self.name,
                description=self.description,
                tags=self.tags,
                url=path,
                has_headers=self.has_headers,
                delimiter=self.delimiter,
                quote=self.quote,
                file_type=self.file_type,
                # replay-safe: a re-delivered file resolves to its
                # existing version through the SUID tag (A17)
                source_identifier=f"stream:{path}:{mtime.isoformat()}",
            )

    # -- append mode ---------------------------------------------------------

    def _batch_append(self, files, batch_id: int) -> None:
        st = LoadState.load(self._state_path)
        if batch_id <= st.last_batch:
            return  # foreachBatch replay after recovery — already committed
        if not files:
            st.last_batch = batch_id
            st.save(self._state_path)
            return
        paths = [_local(p) for p, _ in files]
        kind = self._resolve_format(paths, st)
        dialect = None
        if kind == "tabular":
            # the full dialect pinned on the first batch, rebuilt
            # verbatim, never re-guessed, so every batch parses
            # identically; explicit constructor overrides still win
            dialect = csvmod.CsvFormat(**st.pinned_dialect)
            dialect.has_headers, dialect.quote = self.has_headers, self.quote
            if self.delimiter is not None:
                dialect.delimiter = self.delimiter
            elif st.pinned_delimiter is not None:
                dialect.delimiter = st.pinned_delimiter

        def commit(first: bool) -> None:
            # the first batch's source becomes visible with its tags;
            # the state file records the batch, so replays skip it
            if first:
                for t in self.tags or []:
                    self.engine.catalog.tag(st.ix, t)
                self.engine.catalog.finalize_source(st.ix)
            st.last_batch = batch_id
            st.save(self._state_path)

        load(
            self.engine, kind, paths, st, name=self.name, url=self.directory,
            description=self.description, dialect=dialect, commit=commit,
        )

    def _classify(self, path: str) -> str:
        if self.file_type is not None:
            return (
                self.file_type
                if self.file_type in ("json", "parquet")
                else "tabular"
            )
        if path.endswith(".parquet"):
            return "parquet"
        return "json" if path.endswith((".json", ".jsonl")) else "tabular"

    def _resolve_format(self, paths: list[str], st: LoadState) -> str:
        """Pin the source's format (and CSV dialect) on the first batch;
        every later file must agree. Without this, a watched directory
        receiving mixed file types would flip the same source ix between
        the JSON (c1) and tabular (cN/typed) layouts across batches,
        silently corrupting the catalog columns and row shapes."""
        kinds = {self._classify(p) for p in paths}
        if len(kinds) > 1:
            raise ValueError(
                f"streaming append batch mixes file formats {sorted(kinds)}: "
                f"{paths[:3]}...; an append source is one format"
            )
        fmt = kinds.pop()
        if st.fmt is None:
            st.fmt = fmt
        elif st.fmt != fmt:
            raise ValueError(
                f"streaming append source {self.name!r} was pinned to "
                f"{st.fmt!r} on its first batch but this batch delivers "
                f"{fmt!r} files: {paths[:3]}"
            )
        if fmt == "tabular":
            if self.delimiter is None:
                delims = {csvmod.guess_format(p).delimiter for p in paths}
                if len(delims) > 1:
                    raise ValueError(
                        f"streaming append batch mixes CSV dialects "
                        f"(delimiters {sorted(map(repr, delims))}); pass "
                        f"delimiter= explicitly to override"
                    )
                d = delims.pop()
                if st.pinned_delimiter is None:
                    st.pinned_delimiter = d
                elif st.pinned_delimiter != d:
                    raise ValueError(
                        f"streaming append source {self.name!r} was pinned "
                        f"to delimiter {st.pinned_delimiter!r} but this "
                        f"batch's files use {d!r}"
                    )
            if st.pinned_dialect is None:
                # pin the ENTIRE guessed format object, not just the
                # delimiter — later batches reuse it verbatim, so no
                # guessed field (encoding, quote, ...) can drift when a
                # later batch arrives with a different file extension
                st.pinned_dialect = dict(csvmod.guess_format(paths[0]).__dict__)
        return fmt
