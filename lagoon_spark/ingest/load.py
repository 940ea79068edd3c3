"""The one load path: a batch of files → untyped and typed tables,
catalog columns and a row count.

One loader per file format (tabular, parquet, JSON). A one-shot
``Lagoon.ingest`` is the first batch on an empty :class:`LoadState`;
a streaming append (``streaming/ingest.py``) passes the state it saved
after its last batch. So the two callers cannot drift apart: the same
file lands the same way whether it is ingested once or appended.

The running state is the type lattice, which is a monoid: the text
lattice folds by max rank + max length (`Tabular/TypeInference.hs:29-44`),
schema-native parquet types fold through :func:`parquet_join`, and
JSON types through ``jsontype.unify``. Each batch contributes one
aggregate over its own rows and never re-scans history. Only a batch
that *widens* a column's type re-casts the typed table in full; in the
steady state a batch casts and appends only itself. A batch wider than
the history (more columns) is the analog of the reference's mid-ingest
ALTER TABLE ADD COLUMN (`DataFormat.hs:251-271`): history is rewritten
once padded with NULLs, after which all footers agree again.

Every table is written and read through ``Lagoon._write_table`` (or
``_append_table``) and ``_read_table``, which remember each table's
schema, so no batch starts a footer-inference job. A batch is atomic
(:meth:`_Batch.guard`): a failure anywhere restores the last committed
state.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lagoon_spark.ingest import csv as csvmod
from lagoon_spark.ingest import jsonsplit, jsontype
from lagoon_spark.ingest.infer import (
    R_ABSENT,
    ColumnType,
    cast_expr,
    column_ranks,
    rank_to_type,
)
from lagoon_spark.ingest.names import no_dup_names
from lagoon_spark.ingest.rowid import with_ix_count

#: lattice type → Spark cast target for schema-native (parquet) columns
PARQUET_NATIVE_CAST = {
    "BOOLEAN": "boolean",
    "INTEGER": "int",
    "BIGINT": "long",
    "DOUBLE PRECISION": "double",
}

#: widening order of the schema-native numeric chain
_PARQUET_NUM_RANK = {"INTEGER": 0, "BIGINT": 1, "DOUBLE PRECISION": 2}


def parquet_lattice(dt) -> str:
    """Schema-native Spark type → reference lattice type (parquet
    ingest skips the two-pass inference)."""
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "INTEGER"
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "DOUBLE PRECISION"
    if isinstance(dt, T.DecimalType) and dt.precision <= 15:
        return "DOUBLE PRECISION"
    return "TEXT"


def parquet_join(a: str, b: str) -> str:
    """Join of two schema-native lattice types across batches: equal
    types stay, the numeric chain widens to its max (I4 ⊔ I8 = I8,
    int ⊔ real = real), every other combination re-casts to TEXT —
    including BOOLEAN ⊔ numeric, where the text lattice's Postgres
    cast would fail ('true'::INTEGER); schema-native evidence is
    definitive, so the join degrades safely instead."""
    if a == b:
        return a
    if a in _PARQUET_NUM_RANK and b in _PARQUET_NUM_RANK:
        return a if _PARQUET_NUM_RANK[a] >= _PARQUET_NUM_RANK[b] else b
    return "TEXT"


def parquet_canon(p: str, dt) -> "F.Column":
    """Canonical UNTYPED string rendering of a schema-native column
    (binary → base64, nested → JSON text, scalars → their Spark string
    form)."""
    c = F.col(p)
    if isinstance(dt, T.BinaryType):
        return F.base64(c)
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    return c.cast("string")


def padded(df: DataFrame, phys: list[str]) -> list:
    """``df``'s columns ``phys``, a NULL string for each it lacks."""
    return [
        (F.col(c) if c in df.columns else F.lit(None).cast("string")).alias(c)
        for c in phys
    ]


@dataclass
class LoadState:
    """Running lattice + layout state of one source across batches. A
    one-shot ingest starts from an empty one; a streaming append saves
    it after every committed batch."""

    ix: int | None = None  # catalog source ix once created
    width: int = 0
    row_count: int = 0
    last_batch: int = -1
    ranks: dict[str, int] = field(default_factory=dict)
    lens: dict[str, int] = field(default_factory=dict)
    header: list[str] = field(default_factory=list)
    # parquet: running lattice type per physical column (schema-native
    # batches fold through parquet_join instead of rank/length)
    types: dict[str, str] = field(default_factory=dict)
    json_type: str | None = None  # rendered JsonType (JSON sources)
    # pinned by a stream on its first batch: a source is ONE format with
    # ONE dialect forever — a watched directory later receiving a
    # different file type must fail loudly, not flip the same ix
    # between c1/JSON and cN/typed layouts across batches
    fmt: str | None = None  # "json" | "tabular" | "parquet"
    pinned_delimiter: str | None = None
    # the FULL guessed CsvFormat of the first tabular batch (field dict)
    # — later batches rebuild from it verbatim instead of re-guessing,
    # so no dialect field can drift with file extensions
    pinned_dialect: dict | None = None

    @classmethod
    def load(cls, path: str) -> "LoadState":
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


def load(
    engine,
    kind: str,
    paths: list[str],
    st: LoadState,
    *,
    name: str,
    url: str | None,
    description: str | None = None,
    created: str | None = None,
    dialect: "csvmod.CsvFormat | None" = None,
    probe: str | None = None,
    json_path: str | None = None,
    no_type_inference: bool = False,
    emit=lambda e: None,
    commit=lambda first: None,
):
    """Load one batch of ``kind`` files ("tabular", "parquet", "json")
    into the source ``st`` describes, minting it (``name``, ``url``,
    ``description``, ``created``) when ``st`` is empty.

    ``paths`` are what Spark reads; ``probe``, when given, is the first
    shard of a directory or glob in ``paths`` and stands in for it in
    the driver-side probes (encoding confirm, header bytes, JSON line
    sniff). ``dialect`` is the tabular CSV format. ``commit(first)`` is
    the batch's last step inside its rollback guard. A new source is
    NOT made visible here: the caller commits it. Returns the source's
    SourceInfo with its views registered."""
    source = dict(name=name, url=url, description=description, created=created)
    b = _Batch(engine, st, source, emit, commit)
    if kind == "parquet":
        _load_parquet(b, paths)
    elif kind == "json":
        _load_json(b, paths, probe, json_path)
    else:
        _load_tabular(b, paths, dialect, probe, no_type_inference)
    info = engine.catalog.get_source_by_ix(st.ix)
    engine.register_views(info)
    return info


def _load_tabular(b, paths, fmt, probe, no_type_inference) -> None:
    engine, st = b.engine, b.st
    probes = [probe] if probe else paths
    width, header, saw_bad = csvmod.scan_width(engine.spark, paths, fmt)
    # encoding fallback (`Ingest.hs:138-148`): the distributed scan
    # flagged undecodable bytes; confirm with a strict driver decode,
    # then re-read everything as Latin1 (header included)
    if (
        saw_bad
        and fmt.encoding.upper() in ("UTF-8", "UTF8")
        and any(map(csvmod.utf8_invalid, probes))
    ):
        fmt.encoding = "ISO-8859-1"
        if fmt.has_headers:
            header = csvmod.read_header_bytes(probes[0], fmt, "iso-8859-1")
        b.emit({"event": "encoding", "fallback": "ISO-8859-1"})
    has_headers = bool(fmt.has_headers and header)
    b.emit({"event": "format", "width": width, "has_headers": has_headers})
    b.open("tabular")
    # friendly headers (A11/A12) come from the first batch: sanitized,
    # deduped; headerless files keep the physical names
    # (`DataFormat.hs:103-108`)
    header = header if b.first else st.header
    new_width = max(width, st.width)
    phys = [f"c{i + 1}" for i in range(new_width)]
    needs_rewrite = bool(st.width) and new_width > st.width
    with b.guard(rename_backup=needs_rewrite):
        if needs_rewrite:
            b.rewrite_padded(new_width)
        untyped, n = with_ix_count(
            csvmod.read_untyped(engine.spark, paths, fmt, new_width)
        )
        b.write(untyped.select(b.ix(), *phys), b.data_path)
        b.emit({"event": "loaded", "rows": n})
        friendly = no_dup_names(list(header) + phys[len(header) :])

        # A5/A10: the batch's lattice aggregate ⊔ the running state, then
        # the typed cast — of the batch alone unless a type widened. The
        # cast can legitimately fail (the lattice does not guarantee
        # castability for word-booleans widened to INT — the reference's
        # Postgres cast fails there too); the guard then restores the
        # pre-batch state.
        if no_type_inference:
            types = [ColumnType.TEXT.value] * new_width
            typed = {"typed_table_name": None, "typed_view_name": None}
        else:
            stored = engine._read_table(b.data_path)
            ranks, lens = dict(st.ranks), dict(st.lens)
            for c, (r, ln) in column_ranks(b.batch_rows(stored), phys).items():
                ranks[c] = max(ranks.get(c, R_ABSENT), r)
                lens[c] = max(lens.get(c, 0), ln)
            ctypes = [rank_to_type(ranks[c], lens[c]) for c in phys]
            widened = any(
                c in st.ranks and t != rank_to_type(st.ranks[c], st.lens[c])
                for c, t in zip(phys, ctypes)
            )
            casts = [cast_expr(c, t).alias(c) for c, t in zip(phys, ctypes)]
            if widened or needs_rewrite:
                b.replace(stored.select("ix", *casts), b.typed_path)
            else:
                b.write(b.batch_rows(stored).select("ix", *casts), b.typed_path)
            types = [t.value for t in ctypes]
            typed = b.typed_names()
            b.emit({"event": "typed", "columns": list(zip(friendly, types))})
            st.ranks, st.lens = ranks, lens
        st.header, st.width = list(header), new_width
        b.finish(list(zip(phys, friendly, types)), n, **typed)


def _load_parquet(b, paths) -> None:
    """Parquet-native load — beyond the reference (whose inputs are
    CSV/JSON), because the 100 TB landing format IS parquet. Column
    types come from the file schema, so the two-pass inference is
    skipped: schema-native scalars map straight into the reference
    lattice (bool/int/bigint/double; decimals beyond double precision,
    dates, timestamps → TEXT; arrays/structs/maps → their JSON text;
    binary → base64). The UNTYPED table stores these canonical
    renderings — download, compaction's row matching and
    ``set_column_type`` re-casts assume text there; the typed table
    lands from the native columns, no string round-trip.

    Physical columns are assigned in first-seen field order, and later
    batches match by FIELD NAME: a batch missing a known field reads
    NULL for it, a batch adding a field widens the source. Types fold
    through :func:`parquet_join`. On a widening rewrite, numeric and
    boolean targets re-cast from the TYPED history (the numeric chain
    is monotone, so cast(cast(x, old), new) == cast(x, new), and float
    → double stays exact); TEXT targets come from the UNTYPED canonical
    strings, which keep each row's ORIGINAL rendering ("1" for an int
    row that later became double, as a one-shot of the combined data
    renders it)."""
    engine, st = b.engine, b.st
    # mergeSchema: the shards of one batch may differ in width; the
    # union schema is the batch's native schema
    df = engine.spark.read.option("mergeSchema", "true").parquet(*paths)
    fields = df.schema.fields
    if not fields:
        raise ValueError(f"{paths[:3]} have no columns")
    dtype = {f.name: f.dataType for f in fields}
    header = list(st.header) + [f.name for f in fields if f.name not in st.header]
    new_width = len(header)
    phys = [f"c{i + 1}" for i in range(new_width)]
    types = dict(st.types)  # phys → lattice type
    for nm, p in zip(header, phys):
        if nm in dtype:
            t = parquet_lattice(dtype[nm])
            types[p] = parquet_join(types[p], t) if p in types else t
    widened = any(types[p] != t for p, t in st.types.items())
    b.emit({"event": "format", "width": new_width, "schema_native": True})
    b.open("tabular")
    needs_rewrite = bool(st.width) and new_width > st.width

    def typed_col(p: str, nm: str) -> "F.Column":
        t = types[p]
        if t in PARQUET_NATIVE_CAST:
            return F.col(p).cast(PARQUET_NATIVE_CAST[t]).alias(p)
        return parquet_canon(p, dtype.get(nm)).alias(p)

    with b.guard(rename_backup=needs_rewrite):
        if needs_rewrite:
            b.rewrite_padded(new_width)
        # rename to physical c1..cn BEFORE ix assignment so a source
        # column literally named "ix" cannot collide
        native, n = with_ix_count(
            df.select(
                *[
                    (
                        F.col(f"`{nm}`") if nm in dtype else F.lit(None).cast("string")
                    ).alias(p)
                    for nm, p in zip(header, phys)
                ]
            )
        )
        native = native.select(b.ix(), *phys)
        canon = [
            parquet_canon(p, dtype.get(nm)).alias(p) for nm, p in zip(header, phys)
        ]
        b.write(native.select("ix", *canon), b.data_path)
        b.emit({"event": "loaded", "rows": n})
        batch = native.select("ix", *[typed_col(p, nm) for nm, p in zip(header, phys)])
        if widened or needs_rewrite:
            old_typed = engine._read_table(b.typed_path)
            hist = (
                old_typed.alias("t")
                .join(
                    engine._read_table(b.data_path)
                    .filter(F.col("ix") <= st.row_count)
                    .alias("u"),
                    on="ix",
                )
                .select(
                    "ix",
                    *[
                        F.col(f"u.{p}").alias(p)
                        if types[p] == "TEXT"
                        else (
                            F.col(f"t.{p}")
                            if p in old_typed.columns
                            else F.lit(None)  # a new column: history reads NULL
                        )
                        .cast(PARQUET_NATIVE_CAST[types[p]])
                        .alias(p)
                        for p in phys
                    ],
                )
            )
            b.replace(hist.unionByName(batch), b.typed_path)
        else:
            b.write(batch, b.typed_path)
        cols = [(p, h, types[p]) for p, h in zip(phys, no_dup_names(header))]
        b.emit({"event": "typed", "columns": [(h, t) for _p, h, t in cols]})
        st.types, st.header, st.width = types, header, new_width
        b.finish(cols, n, **b.typed_names())


def _load_json(b, paths, probe, json_path) -> None:
    """JSON load (`Ingest.hs:231-255`): one TEXT column holding the raw
    value per row; JSON sources never get a typed table
    (`Ingest.hs:257-262`), so a batch only appends. The batch's
    JsonType unifies with the running one
    (`Util/JSON/TypeInference.hs:104-134`), so optional-key / nullable
    structure accumulates across batches."""
    engine, st = b.engine, b.st
    b.open("json")
    try:
        with b.guard(), tempfile.TemporaryDirectory(suffix=".jsonbatch") as stage:
            lines = engine.spark.read.text(_jsonl(paths, probe, json_path, stage))
            lines = lines.filter(F.trim(F.col("value")) != "")
            numbered, n = with_ix_count(lines)
            b.write(numbered.select(b.ix(), F.col("value").alias("c1")), b.data_path)
            b.emit({"event": "loaded", "rows": n})
            # distributed JsonType inference; a malformed value fails
            # the fold worker-side and the guard undoes the batch
            jt = infer_jsontype_distributed(
                b.batch_rows(engine._read_table(b.data_path)), "c1"
            )
            if st.json_type:
                jt = jsontype.unify(jsontype.parse(st.json_type), jt)
            st.json_type = jsontype.render(jt)
            b.finish(
                [("c1", "data", ColumnType.JSON.value)], n, json_type=st.json_type
            )
    except BaseException as e:
        # unwrap the worker-side splitter error to the same clean
        # exception the driver-side splitter raises
        msg = str(e)
        if type(e).__name__ == "PythonException" and "JsonSplitError" in msg:
            tail = msg.split("JsonSplitError:", 1)[1].strip().splitlines()
            raise jsonsplit.JsonSplitError(
                tail[0] if tail else "malformed JSON value"
            ) from e
        raise


def _jsonl(paths, probe, json_path, stage: str) -> list[str]:
    """``paths`` as one-value-per-line files Spark reads distributed.
    JSONL passes through. A json-path, or a file of multi-line values,
    goes through the constant-memory driver splitter into a spool in
    ``stage``; row numbering is filename-major, so once any file is
    spooled every file is staged under an index-prefixed name (spool or
    symlink), keeping the batch's file order."""
    split = [
        json_path is not None or json_needs_splitting(p)
        for p in ([probe] if probe else paths)
    ]
    if not any(split):
        return paths
    if probe is not None:
        raise ValueError(
            "sharded JSON ingest requires JSONL shards (one value "
            "per line); multi-line documents need per-file ingest"
        )
    jpath = jsonsplit.parse_path(json_path) if json_path else jsonsplit.HERE
    staged = []
    for i, (p, spool) in enumerate(zip(paths, split)):
        out = os.path.join(stage, f"{i:06d}.jsonl")
        if spool:
            with open(p, encoding="utf-8") as f, open(out, "w", encoding="utf-8") as w:
                for raw in jsonsplit.split_values(f, jpath):
                    w.write(raw.replace("\n", " ") + "\n")
        else:
            os.symlink(os.path.abspath(p), out)
        staged.append(out)
    return staged


def json_needs_splitting(path: str, probe_bytes: int = 1 << 16) -> bool:
    """JSONL (one value per line) can skip the driver splitter."""
    with open(path, encoding="utf-8") as f:
        probe = f.read(probe_bytes)
        more = bool(f.read(1))
    lines = probe.splitlines()
    if more and lines:
        lines = lines[:-1]  # last line may be truncated by the probe
    for line in lines:
        if not line.strip():
            continue
        try:
            json.loads(line)
        except ValueError:
            return True
    return False


def infer_jsontype_distributed(df: DataFrame, col: str):
    """JsonType of a string column: Arrow-batched executor fold, driver
    lattice reduce.

    Values arrive as Arrow batches (``mapInPandas`` — no per-row
    pickling), each task folds its batches through the unification
    lattice and emits ONE rendered type string; the driver parses and
    unifies #tasks partial types. ``json.loads`` per value is inherent
    (the lattice needs the parsed shape), but all row-granular transfer
    overhead is gone.
    """
    import pandas as pd

    def scan(batches):
        t = jsontype.UNKNOWN
        for pdf in batches:
            for s in pdf[col]:
                try:
                    parsed = json.loads(s)
                except ValueError as err:
                    # surfaces driver-side as the same clean splitter
                    # error a malformed document raises (the load
                    # unwraps it by the exception name)
                    raise jsonsplit.JsonSplitError(
                        f"invalid JSON value {s[:80]!r}: {err}"
                    ) from None
                t = jsontype.unify(t, jsontype.type_of_value(parsed))
        yield pd.DataFrame({"t": [jsontype.render(t)]})

    parts = df.select(col).mapInPandas(scan, "t string").collect()
    jt = jsontype.UNKNOWN
    for r in parts:
        jt = jsontype.unify(jt, jsontype.parse(r["t"]))
    return jt


class _Batch:
    """One batch loading into one source: where its tables live, how
    it writes them, and the guard that makes it atomic."""

    def __init__(self, engine, st: LoadState, source: dict, emit, commit):
        self.engine, self.st, self.source = engine, st, source
        self.emit, self.commit = emit, commit
        self.first = st.ix is None
        self.aside: set[str] = set()  # tables moved aside by this batch

    def open(self, fmt: str) -> None:
        """Mint the source on the first batch (invisible until the
        caller commits it); find its tables on a later one."""
        catalog = self.engine.catalog
        if self.first:
            self.st.ix, _version, self.table, self.view = catalog.new_source(
                added_by=self.engine.user, fmt=fmt, **self.source
            )
        else:
            info = catalog.get_source_by_ix(self.st.ix)
            self.table, self.view = info.table_name, info.view_name
        self.data_path = self.engine._data_path(self.table)
        self.typed_path = self.engine._data_path(f"typed{self.st.ix}")

    def typed_names(self) -> dict:
        return {
            "typed_table_name": f"typed{self.st.ix}",
            "typed_view_name": f"{self.view}_typed",
        }

    def ix(self) -> "F.Column":
        """The batch's row ids, continuing after the committed rows."""
        if not self.st.row_count:
            return F.col("ix")
        return (F.col("ix") + F.lit(self.st.row_count)).alias("ix")

    def batch_rows(self, stored: DataFrame) -> DataFrame:
        """This batch's rows of a table it appended to."""
        if not self.st.row_count:
            return stored
        return stored.filter(F.col("ix") > self.st.row_count)

    def write(self, df: DataFrame, path: str) -> None:
        """The batch's rows: the first batch creates the table, a later
        one appends."""
        if self.first:
            self.engine._write_table(df, path)
        else:
            self.engine._append_table(df, path)

    def replace(self, df: DataFrame, path: str) -> None:
        """Overwrite a table the plan may read: write beside, then swap
        (Spark refuses in-place overwrite of an input path). The
        replaced content parks at ``.__prev`` until the batch commits,
        so the guard can restore it."""
        tmp, prev = path + ".__rewrite", path + ".__prev"
        for stale in (tmp, prev):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        self.engine._write_table(df, tmp)
        if os.path.exists(path):
            self.aside.add(prev)
            self.engine._move_table(path, prev)
        self.engine._move_table(tmp, path)

    def rewrite_padded(self, new_width: int) -> None:
        """History (moved aside to ``.__bak`` by the guard) padded with
        NULL columns to ``new_width``, written back as the live table."""
        old = self.engine._read_table(self.data_path + ".__bak")
        phys = [f"c{i + 1}" for i in range(new_width)]
        self.engine._write_table(old.select("ix", *padded(old, phys)), self.data_path)

    def finish(self, cols, rows: int, **fields) -> None:
        """The batch's catalog writes and its caller's commit: the last
        steps inside the guard."""
        self.st.row_count += rows
        catalog = self.engine.catalog
        catalog.set_columns(self.st.ix, cols)
        catalog.update_source(self.st.ix, row_count=self.st.row_count, **fields)
        self.commit(self.first)

    @contextlib.contextmanager
    def guard(self, *, rename_backup: bool = False):
        """Make the batch atomic. Every failure restores the last
        committed state, so a retry (or a stream's replay) starts clean
        instead of double-appending:

        * first batch → the engine's ingest rollback drops the catalog
          row and all data (delete-restores-state discipline);
        * a widening batch → history was moved to ``.__bak`` up front;
          restore = drop the rebuilt table, move it back;
        * otherwise → delete only the parquet parts this batch
          appended; a typed table :meth:`replace` swapped out comes
          back from ``.__prev``.
        """
        engine, data, typed = self.engine, self.data_path, self.typed_path
        before = {
            d: set(os.listdir(d)) if os.path.isdir(d) else None for d in (data, typed)
        }
        bak, prev = data + ".__bak", typed + ".__prev"
        if rename_backup:
            self.aside.add(bak)
            engine._move_table(data, bak)
        try:
            yield
        except BaseException:
            if self.first:
                engine._rollback_ingest(self.st.ix, self.table, f"typed{self.st.ix}")
                self.st.ix = None
                raise
            for live, aside in ((data, bak), (typed, prev)):
                if aside in self.aside:
                    if os.path.isdir(live):
                        shutil.rmtree(live)
                    engine._move_table(aside, live)
                else:
                    _remove_new_parts(live, before[live])
            raise
        for aside in self.aside:
            shutil.rmtree(aside, ignore_errors=True)


def _remove_new_parts(d: str, before: "set | None") -> None:
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
