"""Streaming ingest — continuous file-arrival ingestion.

The reference is batch-only: ``lagoon ingest <file>`` runs once per
file (`src/backend/src/Lagoon/Ingest.hs:82-132`). At 100 TB a corpus
is not a file, it is a *flow* — crawl output landing in object storage
hour after hour. This module extends the reference's ingest plane to
that shape the Spark-first way: Structured Streaming's file source
does checkpointed, exactly-once file discovery, and each micro-batch
flows through the SAME inference/catalog/security machinery as a
one-shot ingest.

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

* ``append`` — all arriving files grow ONE source. Rows append to the
  untyped table with the monotone ``ix`` continuing across batches,
  and the type lattice folds INCREMENTALLY: the reference's
  column-level unification (`Tabular/TypeInference.hs:29-44`) is a
  monoid — max lattice rank + max length — so each batch contributes
  one O(columns) aggregate merged into the running state; no re-scan
  of history. A batch can *widen* a column's type (INT ⊔ REAL = REAL,
  `TypeInference.hs:73-108`): only then is the typed table re-cast in
  full; in the steady state a batch casts and appends only itself.
  A wider row-shape arriving later (more columns) is the streaming
  analog of the reference's mid-ingest ALTER TABLE ADD COLUMN
  (`DataFormat.hs:251-271`): history is rewritten once via parquet
  schema-merge (old rows read NULL for the new columns), after which
  all footers agree again. Parquet (schema-native) arrivals append
  too: batches match columns by FIELD NAME, each batch's native
  schema folds through ``engine.parquet_join`` (I4 ⊔ I8 = I8,
  int ⊔ real = real, any non-chain combination re-casts to TEXT),
  and only a widening batch re-casts the typed history.

Exactly-once: ``foreachBatch`` is at-least-once under failure
recovery, so append mode records the last committed batch id in its
state file and skips replays; versions mode is idempotent per file via
SUID. Single-writer per dataset is assumed (the reference's ingest
holds a Postgres transaction for the same reason).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from lagoon_spark.ingest import csv as csvmod
from lagoon_spark.ingest.infer import (
    InferredColumn,
    R_ABSENT,
    cast_expr,
    rank_expr,
    rank_to_type,
)
from lagoon_spark.ingest.names import no_dup_names
from lagoon_spark.ingest.rowid import with_ix_count


def _local(path: str) -> str:
    """file:/x or file:///x URI → filesystem path; plain paths pass."""
    if path.startswith("file:"):
        stripped = path[len("file:") :]
        while stripped.startswith("//"):
            stripped = stripped[1:]
        return stripped
    return path


@dataclass
class _AppendState:
    """Running lattice + layout state for one append-mode stream."""

    ix: int | None = None  # catalog source ix once created
    width: int = 0
    row_count: int = 0
    last_batch: int = -1
    ranks: dict[str, int] = field(default_factory=dict)
    lens: dict[str, int] = field(default_factory=dict)
    header: list[str] = field(default_factory=list)
    # parquet append mode: running lattice type per physical column
    # (schema-native batches fold through parquet_join instead of the
    # text rank/length monoid)
    types: dict[str, str] = field(default_factory=dict)
    json_type: str | None = None  # rendered JsonType (JSON append mode)
    # pinned on the first batch: a source is ONE format with ONE dialect
    # forever — a watched directory later receiving a different file
    # type must fail loudly, not flip the same ix between c1/JSON and
    # cN/typed layouts across batches
    fmt: str | None = None  # "json" | "tabular"
    pinned_delimiter: str | None = None
    # the FULL guessed CsvFormat from the first tabular batch (field
    # dict) — later batches rebuild from this verbatim instead of
    # re-guessing, so no dialect field can drift with file extensions
    pinned_dialect: dict | None = None

    @classmethod
    def load(cls, path: str) -> "_AppendState":
        if not os.path.exists(path):
            return cls()
        with open(path) as f:
            return cls(**json.load(f))

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.__dict__, f)
        os.replace(tmp, path)


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
        st = _AppendState.load(self._state_path)
        if batch_id <= st.last_batch:
            return  # foreachBatch replay after recovery — already committed
        if not files:
            st.last_batch = batch_id
            st.save(self._state_path)
            return
        paths = [_local(p) for p, _ in files]
        fmt = self._resolve_format(paths, st)
        if fmt == "parquet":
            self._batch_append_parquet(paths, batch_id, st)
        elif fmt == "json":
            self._batch_append_json(paths, batch_id, st)
        else:
            self._batch_append_tabular(paths, batch_id, st)
        self.engine.register_views(self.engine.catalog.get_source_by_ix(st.ix))

    def _open_source(self, st: _AppendState, fmt: str) -> "tuple[bool, str, str]":
        """``(first_batch, table, view name)`` of the appended source.
        The first batch creates its catalog row (tagged, invisible until
        :meth:`_commit_batch`) and records its ix in ``st``."""
        catalog = self.engine.catalog
        if st.ix is not None:
            info = catalog.get_source_by_ix(st.ix)
            return False, info.table_name, info.view_name
        st.ix, _version, table, view_name = catalog.new_source(
            self.name,
            url=self.directory,
            description=self.description,
            added_by=self.engine.user,
            created=None,
            fmt=fmt,
        )
        for t in self.tags or []:
            catalog.tag(st.ix, t)
        return True, table, view_name

    def _commit_batch(self, st: _AppendState, first_batch: bool, batch_id: int) -> None:
        """The last step inside a batch's rollback guard: the first
        batch's source becomes visible, and the state file records the
        batch as committed (replays of it are skipped)."""
        if first_batch:
            self.engine.catalog.finalize_source(st.ix)
        st.last_batch = batch_id
        st.save(self._state_path)

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

    def _resolve_format(self, paths: list[str], st: _AppendState) -> str:
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

    def _batch_append_json(self, paths, batch_id: int, st: _AppendState) -> None:
        """JSONL append: rows of raw values; the JsonType lattice is a
        monoid too (`unify`, `Util/JSON/TypeInference.hs:104-134`) —
        the batch's inferred type unifies with the running state, so
        optional-key / nullable structure accumulates across batches
        without ever re-scanning history. JSON sources never get a
        typed table (`Ingest.hs:257-262`), so there is no widening
        rewrite at all: append is always pure append."""
        # multi-line JSON files (pretty-printed / whitespace-separated
        # top-level values) go through the same constant-memory driver
        # splitter the one-shot ingest uses (`engine._ingest_json`).
        # Row numbering is filename-major (`with_ix`), so when ANY file
        # needs spooling the whole batch is staged in a temp dir under
        # index-prefixed names — spooled JSONL for multi-line files,
        # symlinks for passthrough shards — preserving the batch's file
        # order. The pure-JSONL batch (the steady state) skips staging
        # and streams the original paths.
        if not any(self.engine._json_needs_splitting(p) for p in paths):
            self._batch_append_json_rows(paths, batch_id, st)
            return
        import tempfile

        from lagoon_spark.ingest import jsonsplit

        with tempfile.TemporaryDirectory(suffix=".jsonbatch") as stage:
            read_paths = []
            for i, p in enumerate(paths):
                staged = os.path.join(stage, f"{i:06d}.jsonl")
                if self.engine._json_needs_splitting(p):
                    with open(p, encoding="utf-8") as f, open(
                        staged, "w", encoding="utf-8"
                    ) as out:
                        for raw in jsonsplit.split_values(f, jsonsplit.HERE):
                            out.write(raw.replace("\n", " ") + "\n")
                else:
                    os.symlink(os.path.abspath(p), staged)
                read_paths.append(staged)
            self._batch_append_json_rows(read_paths, batch_id, st)

    def _batch_append_json_rows(
        self, paths, batch_id: int, st: _AppendState
    ) -> None:
        from lagoon_spark.engine import _infer_jsontype_distributed
        from lagoon_spark.ingest import jsontype
        from lagoon_spark.ingest.infer import ColumnType

        spark = self.engine.spark
        catalog = self.engine.catalog
        first_batch, table, _view = self._open_source(st, "json")
        data_path = self.engine._data_path(table)
        with self._batch_rollback(
            st, first_batch, data_path, self.engine._data_path(f"typed{st.ix}")
        ):
            lines = spark.read.text(paths).filter(F.trim(F.col("value")) != "")
            numbered, n = with_ix_count(lines)
            numbered.select(
                (F.col("ix") + F.lit(st.row_count)).alias("ix"),
                F.col("value").alias("c1"),
            ).write.mode("append").parquet(data_path)
            total = st.row_count + n
            batch_frame = self.engine._read_table(data_path).filter(
                F.col("ix") > st.row_count
            )
            # malformed values raise here (worker-side JsonSplitError) —
            # the guard then removes this batch's parquet parts
            batch_jt = _infer_jsontype_distributed(batch_frame, "c1")
            merged = (
                jsontype.unify(jsontype.parse(st.json_type), batch_jt)
                if st.json_type
                else batch_jt
            )
            st.json_type = jsontype.render(merged)
            catalog.set_columns(st.ix, [("c1", "data", ColumnType.JSON.value)])
            catalog.update_source(st.ix, row_count=total, json_type=st.json_type)
            st.row_count = total
            self._commit_batch(st, first_batch, batch_id)

    def _batch_append_tabular(self, paths, batch_id: int, st: _AppendState) -> None:
        spark = self.engine.spark
        catalog = self.engine.catalog

        # the full dialect was pinned by _resolve_format on the first
        # batch — rebuilt verbatim here, never re-guessed, so every
        # batch parses identically; explicit constructor overrides
        # (delimiter/quote/has_headers) still win
        if st.pinned_dialect is not None:
            fmt = csvmod.CsvFormat(**st.pinned_dialect)
        else:  # state file from before dialect pinning existed
            fmt = csvmod.guess_format(paths[0])
        fmt.has_headers = self.has_headers
        if self.delimiter is not None:
            fmt.delimiter = self.delimiter
        elif st.pinned_delimiter is not None:
            fmt.delimiter = st.pinned_delimiter
        fmt.quote = self.quote

        width, header, _bad = csvmod.scan_width(spark, paths, fmt)
        first_batch, table, view_name = self._open_source(st, "tabular")
        if first_batch:
            st.header = header

        new_width = max(width, st.width)
        data_path = self.engine._data_path(table)
        typed_path = self.engine._data_path(f"typed{st.ix}")
        needs_rewrite = bool(st.width) and new_width > st.width

        with self._batch_rollback(
            st, first_batch, data_path, typed_path, rename_backup=needs_rewrite
        ):
            if needs_rewrite:
                # row-shape widened: one history rewrite via schema-merge
                # (streaming ALTER TABLE ADD COLUMN), then footers
                # agree. The guard renamed history to .__bak; rebuild
                # the live dir padded from it, so a failure anywhere in
                # this batch restores the backup wholesale.
                self._rewrite_padded(data_path + ".__bak", data_path, new_width)

            untyped, batch_rows = with_ix_count(
                csvmod.read_untyped(spark, paths, fmt, new_width)
            )
            untyped.select(
                (F.col("ix") + F.lit(st.row_count)).alias("ix"),
                *[f"c{i + 1}" for i in range(new_width)],
            ).write.mode("append").parquet(data_path)

            # incremental lattice fold: batch aggregate ⊔ running state
            phys = [f"c{i + 1}" for i in range(new_width)]
            batch_frame = self.engine._read_table(data_path).filter(
                F.col("ix") > st.row_count
            )
            aggs = []
            for c in phys:
                aggs.append(F.max(rank_expr(c)).alias(f"__r_{c}"))
                aggs.append(F.max(F.length(F.col(c))).alias(f"__l_{c}"))
            row = batch_frame.agg(*aggs).collect()[0]
            old_types = {
                c: rank_to_type(st.ranks[c], st.lens[c]) for c in st.ranks
            }
            new_ranks = dict(st.ranks)
            new_lens = dict(st.lens)
            for c in phys:
                br = row[f"__r_{c}"] if row[f"__r_{c}"] is not None else R_ABSENT
                bl = row[f"__l_{c}"] or 0
                new_ranks[c] = max(new_ranks.get(c, R_ABSENT), br)
                new_lens[c] = max(new_lens.get(c, 0), bl)
            inferred = [
                InferredColumn(c, rank_to_type(new_ranks[c], new_lens[c]), new_lens[c])
                for c in phys
            ]
            widened = any(
                c in old_types and ic.type != old_types[c]
                for c, ic in zip(phys, inferred)
            )

            # typed table: full re-cast only on a widening event (or the
            # width rewrite above); otherwise cast + append just the
            # batch. The cast can legitimately fail (the lattice does
            # not guarantee castability for word-booleans widened to
            # INT — the reference's Postgres cast fails there too); the
            # rollback guard then restores the pre-batch state.
            full = self.engine._read_table(data_path)
            casts = [cast_expr(ic.name, ic.type).alias(ic.name) for ic in inferred]
            if first_batch or widened or needs_rewrite:
                self._overwrite(full.select("ix", *casts), typed_path)
            else:
                full.filter(F.col("ix") > st.row_count).select(
                    "ix", *casts
                ).write.mode("append").parquet(typed_path)

            preferred = (
                list(st.header) + phys[len(st.header) :] if st.header else phys
            )
            friendly = no_dup_names(preferred)
            catalog.set_columns(
                st.ix,
                [
                    (p, h, ic.type.value)
                    for (p, h), ic in zip(zip(phys, friendly), inferred)
                ],
            )
            catalog.update_source(
                st.ix,
                row_count=st.row_count + batch_rows,
                typed_table_name=f"typed{st.ix}",
                typed_view_name=f"{view_name}_typed",
            )
            st.ranks = new_ranks
            st.lens = new_lens
            st.width = new_width
            st.row_count += batch_rows
            self._commit_batch(st, first_batch, batch_id)

    def _batch_append_parquet(
        self, paths, batch_id: int, st: _AppendState
    ) -> None:
        """Parquet (schema-native) append — round-11 verdict #6, the
        one documented refusal with a real user shape behind it (crawl
        output landing as parquet shards that should grow ONE source).

        Semantics defined from the reference lattice, not invented:

        * physical columns are assigned in FIRST-SEEN field order and
          later batches match by FIELD NAME — the schema-native analog
          of the tabular path's positional widening; a batch missing a
          known field reads NULL for it, a batch adding a new field is
          the streaming ALTER TABLE ADD COLUMN (history rewritten once
          via the same ``_rewrite_padded`` schema-merge).
        * each batch's native schema folds into the running state
          through :func:`engine.parquet_join` — I4 ⊔ I8 = I8,
          int ⊔ real = real, everything else re-casts to TEXT. Only a
          WIDENING batch re-casts the typed table in full; the steady
          state casts and appends just itself from its NATIVE columns
          (no string round-trip — float → double must widen the
          mantissa the way the one-shot's native cast does).
        * on a widening rewrite, numeric/boolean targets re-cast from
          the TYPED history (the numeric chain is monotone, so
          cast(cast(x, old), new) == cast(x, new) — and it preserves
          float→double exactly where canonical strings would not);
          TEXT targets come from the UNTYPED canonical strings, which
          keep each row's ORIGINAL rendering ("1" for an int row that
          later became double, exactly what a one-shot of the combined
          data would render).
        """
        from lagoon_spark.engine import (
            PARQUET_NATIVE_CAST,
            parquet_canon,
            parquet_join,
            parquet_lattice,
        )

        spark = self.engine.spark
        catalog = self.engine.catalog

        # mergeSchema: one batch may itself carry shards of different
        # widths; the union schema is the batch's native schema
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        fields = df.schema.fields
        if not fields:
            raise ValueError(f"{paths[:3]} have no columns")

        header = list(st.header)
        for f in fields:
            if f.name not in header:
                header.append(f.name)
        new_width = len(header)
        phys = [f"c{i + 1}" for i in range(new_width)]
        dtype_by_name = {f.name: f.dataType for f in fields}

        old_types = dict(st.types)  # phys -> lattice type
        joined: dict[str, str] = dict(old_types)
        for nm, p in zip(header, phys):
            if nm in dtype_by_name:
                bt = parquet_lattice(dtype_by_name[nm])
                joined[p] = parquet_join(joined[p], bt) if p in joined else bt
        widened = any(
            p in old_types and joined[p] != old_types[p] for p in joined
        )

        first_batch, table, view_name = self._open_source(st, "tabular")
        data_path = self.engine._data_path(table)
        typed_path = self.engine._data_path(f"typed{st.ix}")
        needs_rewrite = bool(st.width) and new_width > st.width

        def target_cast(p: str) -> "F.Column":
            t = joined[p]
            if t in PARQUET_NATIVE_CAST:
                return F.col(p).cast(PARQUET_NATIVE_CAST[t]).alias(p)
            return F.col(p).cast("string").alias(p)

        with self._batch_rollback(
            st, first_batch, data_path, typed_path, rename_backup=needs_rewrite
        ):
            if needs_rewrite:
                self._rewrite_padded(data_path + ".__bak", data_path, new_width)

            # native batch frame aligned to physical column order; the
            # rename happens BEFORE ix assignment so an input field
            # literally named "ix" cannot collide (same discipline as
            # the one-shot parquet ingest)
            native, batch_rows = with_ix_count(
                df.select(
                    *[
                        (
                            F.col(f"`{nm}`")
                            if nm in dtype_by_name
                            else F.lit(None).cast("string")
                        ).alias(p)
                        for nm, p in zip(header, phys)
                    ]
                )
            )
            native = native.select(
                (F.col("ix") + F.lit(st.row_count)).alias("ix"),
                *phys,
            )

            untyped = native.select(
                "ix",
                *[
                    parquet_canon(p, dtype_by_name.get(nm)).alias(p)
                    for nm, p in zip(header, phys)
                ],
            )
            untyped.write.mode("append").parquet(data_path)
            total = st.row_count + batch_rows

            if first_batch:
                self._overwrite(native.select("ix", *map(target_cast, phys)), typed_path)
            elif widened or needs_rewrite:
                # history: typed for the numeric chain, untyped strings
                # for TEXT targets (docstring above); batch: native
                old_typed = spark.read.option("mergeSchema", "true").parquet(
                    typed_path
                )
                untyped_hist = self.engine._read_table(data_path).filter(
                    F.col("ix") <= st.row_count
                )
                hist_cols = []
                for p in phys:
                    t = joined[p]
                    if t == "TEXT":
                        hist_cols.append(F.col(f"u.{p}").alias(p))
                    elif p in old_typed.columns:
                        hist_cols.append(
                            F.col(f"t.{p}")
                            .cast(PARQUET_NATIVE_CAST[t])
                            .alias(p)
                        )
                    else:  # new column: history reads NULL
                        hist_cols.append(
                            F.lit(None).cast(PARQUET_NATIVE_CAST[t]).alias(p)
                        )
                hist = (
                    old_typed.alias("t")
                    .join(untyped_hist.alias("u"), on="ix", how="inner")
                    .select(F.col("ix"), *hist_cols)
                )
                self._overwrite(
                    hist.unionByName(
                        native.select("ix", *map(target_cast, phys))
                    ),
                    typed_path,
                )
            else:
                native.select("ix", *map(target_cast, phys)).write.mode(
                    "append"
                ).parquet(typed_path)

            friendly = no_dup_names(header)
            catalog.set_columns(
                st.ix,
                [(p, h, joined[p]) for p, h in zip(phys, friendly)],
            )
            catalog.update_source(
                st.ix,
                row_count=total,
                typed_table_name=f"typed{st.ix}",
                typed_view_name=f"{view_name}_typed",
            )
            st.types = joined
            st.header = header
            st.width = new_width
            st.row_count = total
            self._commit_batch(st, first_batch, batch_id)

    @contextlib.contextmanager
    def _batch_rollback(
        self,
        st: _AppendState,
        first_batch: bool,
        data_path: str,
        typed_path: str,
        *,
        rename_backup: bool = False,
    ):
        """Make one append batch atomic. The cast can legitimately fail
        mid-batch (the lattice does not guarantee castability — a
        word-boolean column widened to INT fails exactly as the
        reference's Postgres ``'true'::INTEGER`` would), so every
        failure path must restore the last committed state; a retry or
        a foreachBatch replay then starts clean instead of
        double-appending.

        * first batch → the engine's ingest rollback drops the catalog
          row and all data (delete-restores-state discipline);
        * width-rewrite batches → history was renamed to ``.__bak``
          up-front; restore = drop the rebuilt dir, rename back;
        * ordinary batches → diff the directory listings and delete
          only the parquet parts this batch appended.
        """
        before = {
            d: (set(os.listdir(d)) if os.path.isdir(d) else None)
            for d in (data_path, typed_path)
        }
        bak = data_path + ".__bak"
        if rename_backup:
            os.rename(data_path, bak)
        try:
            yield
        except BaseException:
            if first_batch and st.ix is not None:
                table = self.engine.catalog.get_source_by_ix(st.ix).table_name
                self.engine._rollback_ingest(st.ix, table, f"typed{st.ix}")
                st.ix = None
            else:
                if rename_backup:
                    if os.path.isdir(data_path):
                        shutil.rmtree(data_path)
                    os.rename(bak, data_path)
                else:
                    self._remove_new_parts(data_path, before[data_path])
                # typed dir: if _overwrite completed its swap the
                # replaced content sits in .__prev — restore it;
                # otherwise only batch-appended parts need removal
                prev = typed_path + ".__prev"
                if os.path.isdir(prev):
                    if os.path.isdir(typed_path):
                        shutil.rmtree(typed_path)
                    os.rename(prev, typed_path)
                else:
                    self._remove_new_parts(typed_path, before[typed_path])
            raise
        else:
            for leftover in (data_path + ".__bak", typed_path + ".__prev"):
                if os.path.isdir(leftover):
                    shutil.rmtree(leftover)

    @staticmethod
    def _remove_new_parts(d: str, before: set | None) -> None:
        if before is None:
            if os.path.isdir(d):
                shutil.rmtree(d)
            return
        if not os.path.isdir(d):
            return
        for f in set(os.listdir(d)) - before:
            fp = os.path.join(d, f)
            if os.path.isdir(fp):
                shutil.rmtree(fp)
            else:
                os.remove(fp)

    def _rewrite_padded(self, src: str, dst: str, new_width: int) -> None:
        """Schema-merge read of ``src`` → full-width pad → write ``dst``."""
        spark = self.engine.spark
        merged = spark.read.option("mergeSchema", "true").parquet(src)
        cols = [F.col("ix")] + [
            (
                F.col(f"c{i + 1}")
                if f"c{i + 1}" in merged.columns
                else F.lit(None).cast("string")
            ).alias(f"c{i + 1}")
            for i in range(new_width)
        ]
        merged.select(*cols).write.mode("overwrite").parquet(dst)

    def _overwrite(self, df, path: str) -> None:
        """Overwrite a parquet dir that the plan may currently read:
        write beside, then swap (Spark refuses in-place overwrite of an
        input path). The replaced content parks at ``.__prev`` until
        the enclosing batch commits, so the rollback guard can restore
        it if a later step in the same batch fails."""
        tmp = path + ".__rewrite"
        prev = path + ".__prev"
        for stale in (tmp, prev):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            os.rename(path, prev)
        os.replace(tmp, path)
