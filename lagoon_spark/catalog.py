"""The metadata catalog: sources, versions, columns, tags, users.

Mirrors the reference's Postgres schema
(`src/backend/src/Lagoon/DB/Schema.hs:104-333`) table-for-table:
``sourcenames`` (named dataset → version counter), ``sources`` (one row
per ingested version), ``sourcecolumns`` (physical name c1..cN, view
header, inferred type), ``tags``, ``users``.

Storage: parquet files under ``<warehouse>/catalog/`` written with
pyarrow on the driver. The catalog is metadata-sized (rows ∝ number of
*datasets*, not data rows), so driver-side IO is the right tool — the
reference likewise keeps it in ordinary Postgres tables next to the
data plane. Caches (the reference maintains them with triggers,
`Schema.hs:668-783`) are recomputed on write instead.

Versioning semantics (`src/backend/src/Lagoon/DB/Sources.hs:62-135`):
a new ingest under an existing name allocates version = max+1 and
auto-deprecates the previous latest; table/view names are
``t<ix>`` / ``<sanitized>_v<N>`` (`Sources.hs:186-188`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd

from lagoon_spark.ingest.names import sanitize

_TABLES = {
    # created_by anchors dataset-level ownership: the creator keeps
    # their rights even after their earliest version is deleted
    "sourcenames": {"ix": "int64", "name": "object", "created_by": "object"},
    "sources": {
        "ix": "int64",
        "sourcename_ix": "int64",
        "version": "int64",
        "url": "object",
        "description": "object",
        "created": "object",
        "added_by": "object",
        "table_name": "object",
        "view_name": "object",
        "typed_table_name": "object",
        "typed_view_name": "object",
        "deprecated": "bool",
        "row_count": "int64",
        "format": "object",  # tabular | json
        "json_type": "object",  # rendered JsonType for json sources
        # True from new_source until the ingest finishes: a version is
        # INVISIBLE (get_source/versions/search/views) while pending,
        # so a writer killed mid-ingest never exposes a half-built
        # version — the library-world stand-in for the reference's
        # per-ingest Postgres transaction (Ingest.hs)
        "pending": "bool",
    },
    "sourcecolumns": {
        "source_ix": "int64",
        "column_name": "object",  # physical c1..cN (or 'data' for json)
        "header": "object",  # friendly view name
        "type": "object",  # ColumnType value string
    },
    "tags": {"source_ix": "int64", "tag": "object"},
    "users": {"ix": "int64", "name": "object"},
}


@dataclass
class SourceInfo:
    """A dataset version (`Lagoon.Interface.SourceInfo`,
    `src/interface/src/Lagoon/Interface/SourceInfo.hs:52-81`)."""

    ix: int
    name: str
    version: int
    url: str | None
    description: str
    created: str
    added_by: str
    table_name: str
    view_name: str
    typed_table_name: str | None
    typed_view_name: str | None
    deprecated: bool
    row_count: int
    format: str
    json_type: str | None
    tags: list[str] = field(default_factory=list)
    columns: list[tuple[str, str, str]] = field(default_factory=list)
    # (physical_name, header, type)


def _now() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _visible(sources: pd.DataFrame) -> pd.DataFrame:
    """Rows whose ingest has committed (``pending`` False or absent).
    Pre-v5 frames (opened without migrate) lack the column — every row
    there was written by a finish-or-rollback engine, so all visible."""
    if "pending" not in sources.columns:
        return sources
    m = sources["pending"].fillna(False).astype(bool)
    if not m.any():
        # the overwhelmingly common state (no in-flight ingest):
        # sources[~m] would copy the whole frame — at the 1M-source
        # tier ~200 ms of every merge-epoch rebuild — for a no-op
        return sources
    return sources[~m]


class _ReadIndex:
    """Read-plane accelerators for ONE memoized sources⋈sourcenames
    epoch (round-10 verdict #2: at the 1M-source synthetic checkpoint
    every search filter was a full-frame pandas scan — 845 ms warm).

    Everything here builds lazily under a lock and the shared merged
    frame is NEVER mutated — this also closes the round-10 advice
    (medium): the old ``lc()`` helper inserted ``__lc_*`` columns into
    the memoized frame from concurrent ``GET /sources`` handler
    threads.

    * substring filters run as Arrow C kernels (``utf8_lower`` once per
      column, then literal ``match_substring`` — exact semantics,
      ~10-50 ms per pass at 1M rows vs ~310 ms pandas), and the
      resulting bitmaps are cached per (col, needle): pagination and
      repeat searches re-filter nothing;
    * ``order()`` caches stable sort permutations per (col, direction)
      so ORDER BY + offset/limit is a boolean gather, not a per-call
      sort of the hit frame;
    * ``pos_by_ix`` is the id→row hash-map behind ix lookups;
    * the TsQuery token index (built on first use) evaluates the
      boolean AST as numpy bitmap algebra over CSR posting lists — the
      per-row ``matches_source`` walk was O(rows × query) with a
      SourceInfo build per row.

    Invalidation is free: the catalog memoizes this object inside
    ``_merged_cache``, whose key includes ``mutation_count`` — any WAL
    append creates a fresh epoch and the old index is garbage.
    """

    _MASK_CACHE_MAX = 64

    def __init__(self, merged: pd.DataFrame):
        import threading

        self.merged = merged
        self._lock = threading.RLock()
        self._raw: dict[str, object] = {}  # col -> pa.Array
        self._lowered: dict[str, object] = {}  # col -> pa.Array, lowercased
        self._orders: dict[tuple, object] = {}  # (col, asc) -> np.int64[]
        self._bools: dict[str, object] = {}  # col -> np.bool_[]
        self._mask_cache: "dict[tuple, object]" = {}
        self._mask_lru: "list[tuple]" = []
        self._pos_by_ix: dict[int, int] | None = None
        self._ix_arr = None  # np.int64[] of merged["ix"]
        # side-table columns (tags/sourcecolumns) lowered for membership
        # filters; keyed (table, col) → (frame, arr, keys, serial). The
        # strong frame ref pins identity while the entry is current; the
        # monotonic serial (never recycled, unlike id()) is what mask-
        # cache keys embed, so an evicted frame's bitmaps can never be
        # resurrected by a new frame allocated at the recycled address
        # (round-11 advice, low).
        self._side: dict[tuple, tuple] = {}
        self._side_serial = 0
        # TsQuery token postings, keyed by the identity of the tags/
        # sourcecolumns frames they were built from: a tag-only commit
        # in another process reloads those frames WITHOUT moving the
        # sources merge epoch, and the old epoch-lifetime memo kept
        # serving stale ts_query results while membership_mask saw the
        # new frame (round-11 advice, medium). State is one atomically
        # swapped tuple (frames_key, (tags_df, cols_df), tokens, serial)
        # — the strong frame refs keep the ids in frames_key valid, and
        # the serial keys the lexeme bitmaps in the mask cache.
        self._tokens_state: tuple | None = None
        self._tokens_serial = 0

    # -- column caches --------------------------------------------------

    def _arrow(self, col: str, lowered: bool):
        store = self._lowered if lowered else self._raw
        arr = store.get(col)
        if arr is None:
            with self._lock:
                arr = store.get(col)
                if arr is None:
                    import pyarrow as pa
                    import pyarrow.compute as pc

                    arr = pa.array(self.merged[col], from_pandas=True)
                    if pa.types.is_null(arr.type):
                        # an all-None column infers type null, which
                        # the string kernels reject
                        arr = arr.cast(pa.string())
                    if lowered:
                        arr = pc.utf8_lower(arr)
                    store[col] = arr
        return arr

    def bool_col(self, col: str):
        a = self._bools.get(col)
        if a is None:
            with self._lock:
                a = self._bools.get(col)
                if a is None:
                    a = (
                        self.merged[col]
                        .fillna(False)
                        .to_numpy(dtype=bool)
                    )
                    self._bools[col] = a
        return a

    def ix_array(self):
        a = self._ix_arr
        if a is None:
            with self._lock:
                a = self._ix_arr
                if a is None:
                    import numpy as np

                    a = self.merged["ix"].to_numpy(dtype=np.int64)
                    self._ix_arr = a
        return a

    def pos_by_ix(self) -> dict[int, int]:
        m = self._pos_by_ix
        if m is None:
            with self._lock:
                m = self._pos_by_ix
                if m is None:
                    m = {
                        int(v): i
                        for i, v in enumerate(self.ix_array().tolist())
                    }
                    self._pos_by_ix = m
        return m

    # -- filter bitmaps ---------------------------------------------------

    def _mask_cached(self, key, build):
        with self._lock:
            m = self._mask_cache.get(key)
            if m is not None:
                return m
        m = build()
        with self._lock:
            if key not in self._mask_cache:
                self._mask_cache[key] = m
                self._mask_lru.append(key)
                while len(self._mask_lru) > self._MASK_CACHE_MAX:
                    self._mask_cache.pop(self._mask_lru.pop(0), None)
        return m

    def contains_mask(self, col: str, needle: str):
        """Case-insensitive LITERAL substring bitmap over ``col``."""
        low = needle.lower()

        def build():
            import pyarrow.compute as pc

            m = pc.match_substring(self._arrow(col, lowered=True), low)
            return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

        return self._mask_cached(("contains", col, low), build)

    def cmp_mask(self, col: str, op: str, value: str):
        """``col >= value`` / ``col <= value`` bitmap (ISO strings)."""

        def build():
            import pyarrow.compute as pc

            fn = pc.greater_equal if op == ">=" else pc.less_equal
            m = fn(self._arrow(col, lowered=False), value)
            return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

        return self._mask_cached(("cmp", col, op, value), build)

    def _side_entry(self, table: str, frame: pd.DataFrame,
                    col: str, key_col: str) -> tuple:
        """Current lowered-column entry for a side table: (frame, arr,
        keys, serial). Rebuilds (and bumps the serial) exactly when the
        live frame object differs from the cached one — one entry per
        (table, col), so a reloaded side frame can't pile up stale
        arrays, and the serial retires its cached bitmaps for good."""
        import numpy as np

        skey = (table, col)
        with self._lock:
            ent = self._side.get(skey)
            if ent is not None and ent[0] is frame:
                return ent
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pc.utf8_lower(pa.array(frame[col], from_pandas=True))
        keys = frame[key_col].to_numpy(dtype=np.int64)
        with self._lock:
            ent = self._side.get(skey)
            if ent is not None and ent[0] is frame:
                return ent  # lost a benign build race — use the winner
            self._side_serial += 1
            ent = (frame, arr, keys, self._side_serial)
            self._side[skey] = ent
            return ent

    def membership_mask(self, table: str, frame: pd.DataFrame,
                        col: str, key_col: str, needle: str):
        """Bitmap over merged rows whose ``key_col``-matched row in the
        side ``frame`` (tags/sourcecolumns) contains ``needle``."""
        import numpy as np

        _frame, arr, keys, serial = self._side_entry(
            table, frame, col, key_col
        )

        def build():
            import pyarrow.compute as pc

            m = pc.fill_null(
                pc.match_substring(arr, needle.lower()), False
            ).to_numpy(zero_copy_only=False)
            hit = np.unique(keys[m])
            return np.isin(self.ix_array(), hit)

        return self._mask_cached(
            ("member", table, col, serial, needle.lower()), build
        )

    # -- sort orders --------------------------------------------------------

    def order_multi(self, keys: "tuple[tuple[str, bool], ...]"):
        """Cached sort permutation over SEVERAL merged columns —
        ((col, ascending), ...) — via one Arrow sort. Backs the dump's
        (name, version) ordering: at the 1M tier the permutation costs
        ~0.1 s once per epoch vs ~0.3 s for a pandas two-key mergesort
        per dump call (round-11 verdict #4)."""
        key = ("multi",) + tuple((c, bool(a)) for c, a in keys)
        o = self._orders.get(key)
        if o is None:
            with self._lock:
                o = self._orders.get(key)
                if o is None:
                    import pyarrow as pa
                    import pyarrow.compute as pc

                    tbl = pa.table(
                        {c: self._arrow(c, lowered=False) for c, _a in keys}
                    )
                    o = pc.sort_indices(
                        tbl,
                        sort_keys=[
                            (c, "ascending" if a else "descending")
                            for c, a in keys
                        ],
                    ).to_numpy()
                    self._orders[key] = o
        return o

    def group_lookup(self, table: str, frame: pd.DataFrame,
                     key_col: str, val_cols: "tuple[str, ...]"):
        """Batched ragged-group reader over a side table: returns a
        ``lookup(ixs) -> dict[ix, list[tuple]]`` that answers "the
        value rows of THESE keys" from one cached stable argsort +
        two vectorized searchsorted probes per batch — O(batch +
        matched) per call instead of the O(table) upfront grouping
        dict, which is the dump's whole-catalog first-byte tax
        (round-11 verdict #4: 2.8 s of the 1M first byte was
        _bulk_info_maps). Cached per frame identity like
        :meth:`_side_entry`."""
        import numpy as np

        skey = ("grp", table, key_col, val_cols)
        with self._lock:
            ent = self._side.get(skey)
            if ent is not None and ent[0] is frame:
                return ent[1]
        keys = frame[key_col].to_numpy(dtype=np.int64)
        order = np.argsort(keys, kind="stable")
        sorted_keys = keys[order]
        # value columns stay as raw VIEWS — per-batch gathers go
        # through the permutation (order[flat]) instead of paying an
        # upfront whole-table gather, which would sit on the dump's
        # first byte (~0.3 s at 2M sourcecolumn rows)
        vals = [frame[c].to_numpy() for c in val_cols]

        def lookup(ixs) -> "dict[int, list[tuple]]":
            ixs = np.asarray(ixs, dtype=np.int64)
            lo = np.searchsorted(sorted_keys, ixs, side="left")
            hi = np.searchsorted(sorted_keys, ixs, side="right")
            counts = hi - lo
            total = int(counts.sum())
            out: "dict[int, list[tuple]]" = {}
            if total == 0:
                return out
            # ragged ranges → one flat gather index vector
            flat = np.repeat(hi - np.cumsum(counts), counts) + np.arange(
                total
            )
            gather = order[flat]
            cols_flat = [v[gather].tolist() for v in vals]
            # single-value lookups (tags) return flat values, multi
            # (columns) return row tuples — saves a per-row unpack in
            # the dump's 1M-iteration consumer loop
            rows = (
                list(zip(*cols_flat)) if len(vals) > 1 else cols_flat[0]
            )
            pos = 0
            for i, k in enumerate(ixs.tolist()):
                c = int(counts[i])
                if c:
                    out[k] = rows[pos : pos + c]
                    pos += c
            return out

        with self._lock:
            ent = self._side.get(skey)
            if ent is not None and ent[0] is frame:
                return ent[1]
            self._side[skey] = (frame, lookup)
            return lookup

    def order(self, col: str, ascending: bool = True):
        key = (col, bool(ascending))
        o = self._orders.get(key)
        if o is None:
            with self._lock:
                o = self._orders.get(key)
                if o is None:
                    import pyarrow as pa
                    import pyarrow.compute as pc

                    tbl = pa.table({"k": self._arrow(col, lowered=False)})
                    o = pc.sort_indices(
                        tbl,
                        sort_keys=[
                            ("k", "ascending" if ascending else "descending")
                        ],
                    ).to_numpy()
                    self._orders[key] = o
        return o

    # -- TsQuery token index -----------------------------------------------

    @staticmethod
    def _class_postings(values, positions):
        """Token postings for one weight class: (tokens pa.Array, row
        positions np.int64[]) aligned element-for-element. Tokenization
        mirrors ``search._tokens`` exactly — split FIRST on
        ``[^A-Za-z0-9_]+``, lowercase each surviving token (lowering
        before splitting could move boundaries on exotic case-folds) —
        and runs as Arrow kernels end-to-end: the pandas split/explode
        pipeline measured 14.6 s at the 1M-source checkpoint, this
        ~0.9 s per class. Deliberately NO dictionary/CSR: a lexeme
        probe is one C-speed ``starts_with`` scan over the flat token
        array (~40 ms at 5M tokens, bitmap-cached per needle), which
        beats paying dictionary-encode + vocab sort at build time."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        empty = (None, np.empty(0, dtype=np.int64))
        arr = pa.array(values, from_pandas=True)
        if pa.types.is_null(arr.type):
            return empty
        arr = pc.fill_null(arr, "")
        splits = pc.split_pattern_regex(arr, "[^A-Za-z0-9_]+")
        toks = pc.utf8_lower(pc.list_flatten(splits))
        parents = pc.list_parent_indices(splits).to_numpy()
        # empty tokens (leading/trailing separators) stay in: a lexeme
        # needle is ≥1 char, so starts_with never matches them — the
        # filter pass costs more than the dead weight
        return toks, np.asarray(positions, dtype=np.int64)[parents]

    def _ensure_tokens(
        self, tags_df: pd.DataFrame, cols_df: pd.DataFrame
    ) -> tuple:
        """Token postings for the CURRENT tags/sourcecolumns frames →
        ``(tokens, serial)``. Rebuilt whenever either frame object
        changes (mirrors :meth:`_side_entry`'s eviction logic): the
        merge epoch only tracks sources/sourcenames, so a tag- or
        column-only commit surfaced by ``refresh()`` must retire the
        postings here or ts_query keeps answering from the old tags
        while membership filters see the new ones."""
        frames_key = (id(tags_df), id(cols_df))
        st = self._tokens_state
        if st is not None and st[0] == frames_key:
            return st[2], st[3]
        with self._lock:
            st = self._tokens_state
            if st is not None and st[0] == frames_key:
                return st[2], st[3]
            import numpy as np

            merged = self.merged
            pos = self.pos_by_ix()
            n = len(merged)
            rows = np.arange(n, dtype=np.int64)

            def repos(frame, text_col):
                # side rows keyed by source_ix → merged row positions;
                # rows of invisible/foreign sources drop out
                p = frame["source_ix"].map(pos)
                keep = p.notna().to_numpy()
                return (
                    frame[text_col].to_numpy()[keep],
                    p.to_numpy()[keep].astype(np.int64),
                )

            tag_v, tag_p = repos(tags_df, "tag")
            col_v, col_p = repos(cols_df, "header")
            tokens = {
                "A": self._class_postings(merged["__name"].to_numpy(), rows),
                "B": self._class_postings(
                    np.concatenate([tag_v, col_v]),
                    np.concatenate([tag_p, col_p]),
                ),
                "C": self._class_postings(
                    merged["description"].to_numpy(), rows
                ),
                "D": self._class_postings(
                    merged["added_by"].to_numpy(), rows
                ),
            }
            self._tokens_serial += 1
            # strong refs to both frames keep the ids in frames_key
            # valid for exactly as long as this state is current
            self._tokens_state = (
                frames_key, (tags_df, cols_df), tokens, self._tokens_serial
            )
            return tokens, self._tokens_serial

    def _lexeme_mask(self, cls: str, needle: str, tokens: dict, serial: int):
        """Prefix-or-exact token match (search.evaluate's Lexeme rule)
        for one weight class: one Arrow ``starts_with`` scan over the
        flat token array, scattered into a row bitmap and cached per
        (class, needle, postings-serial) — the serial retires bitmaps
        built from superseded tag/column frames without a purge pass
        (and without the purge's rebuild race)."""

        def build():
            import numpy as np
            import pyarrow.compute as pc

            toks, rows = tokens[cls]
            m = np.zeros(len(self.merged), dtype=bool)
            if toks is not None and len(rows):
                hit = pc.starts_with(toks, needle).to_numpy(
                    zero_copy_only=False
                )
                if hit.any():
                    m[rows[hit]] = True
            return m

        return self._mask_cached(("lex", cls, needle, serial), build)

    def ts_mask(self, q, tags_df: pd.DataFrame, cols_df: pd.DataFrame):
        """Evaluate a parsed TsQuery as bitmap algebra — semantics
        identical to ``search.evaluate`` row-by-row (differential
        test: test_catalog_scale.py)."""
        import numpy as np

        from lagoon_spark import search as _s

        tokens, serial = self._ensure_tokens(tags_df, cols_df)

        def ev(node, weights: str):
            if isinstance(node, _s.Lexeme):
                needle = node.text.lower()
                m = np.zeros(len(self.merged), dtype=bool)
                for w in weights:
                    m |= self._lexeme_mask(w, needle, tokens, serial)
                return m
            if isinstance(node, _s.And):
                return ev(node.left, weights) & ev(node.right, weights)
            if isinstance(node, _s.Or):
                return ev(node.left, weights) | ev(node.right, weights)
            if isinstance(node, _s.Not):
                return ~ev(node.of, weights)
            if isinstance(node, _s.Label):
                w = _s.LABEL_WEIGHTS.get(node.label.lower())
                return ev(node.of, w if w else "ABCD")
            raise TypeError(node)

        return ev(q, "ABCD")


# Catalog layout version. v1 = the pre-dbmeta layout (no version file);
# v2 records the version in dbmeta and reconciles every table to the
# current column set; v3 adds sourcenames.created_by (dataset-level
# ownership) backfilled from each dataset's earliest surviving version;
# v5 adds sources.pending (crash-safe ingest visibility; existing rows
# reconcile to False = visible).
# Bump this and add a _MIGRATIONS entry whenever the layout changes.
CATALOG_VERSION = 5


def tune_gc_for_large_catalog() -> None:
    """Park the current heap outside CPython's cyclic GC.

    A multi-million-source catalog holds ~10⁸ long-lived Python
    objects (object-dtype frame cells are individual str objects);
    every generation-2 collection scans ALL of them, so any
    allocation burst triggers multi-second pauses that scale with the
    catalog, not with the operation. Measured at the 5M synthetic
    checkpoint: burst deletes swung 78→412 ms/op between identical
    runs purely on GC phase, and ran 115 ms/op with the collector off.
    The frames are flat arrays of scalars — no reference cycles — so
    after one collect() of real garbage, freeze() moves the survivors
    where gen-2 passes cannot see them. This is standard large-heap
    CPython serving practice (the analog of the JVM GC flags every
    Spark deployment tunes); call it after loading or building a big
    catalog. Process-global by design, which is why the library never
    calls it implicitly — the embedding application decides."""
    import gc

    gc.collect()
    gc.freeze()


def _atomic_to_parquet(df: pd.DataFrame, path: str) -> None:
    """write-temp-then-``os.replace``: the same crash discipline as
    :meth:`Catalog.save`, for writers that bypass the cache (the
    migration chain). A process killed mid-migration must leave the
    old table intact, never a truncated parquet."""
    tmp = path + f".tmp.{os.getpid()}"
    try:
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _json_scalar(v):
    """JSON default hook for WAL lines: numpy scalars → Python.

    Anything else raises (round-10 advice): a silently stringified
    field (bytes, timestamp, ...) would REPLAY as a string after a
    restart while the in-memory `_apply_live` kept the original type —
    a divergence that must fail loudly at write time, not surface as
    a type mismatch weeks later."""
    item = getattr(v, "item", None)
    if callable(item):
        out = item()
        if isinstance(out, (bool, int, float, str)) or out is None:
            return out
    raise TypeError(
        f"WAL fields must be JSON-native or numpy scalars, got "
        f"{type(v).__name__}: {v!r}"
    )


def _migrate_1_to_2(cat: "Catalog") -> None:
    """v1 → v2: schema-reconcile each catalog table — add any column the
    current layout has that the stored file lacks (with type-appropriate
    defaults), drop nothing. Opens warehouses written before the version
    file existed."""
    defaults = {"int64": 0, "bool": False, "object": None}
    for table, spec in _TABLES.items():
        if not os.path.exists(cat._path(table)):
            continue
        # load()/save(), not raw parquet IO: the table's current state
        # may live partly in its WAL, and save() re-stamps the
        # applied-seq watermark + retires the log atomically
        df = cat.load(table).copy()
        changed = False
        for col, dtype in spec.items():
            if col not in df.columns:
                df[col] = pd.Series(
                    [defaults[dtype]] * len(df), dtype=dtype, index=df.index
                )
                changed = True
        if changed:
            df = df[[c for c in spec] + [c for c in df.columns if c not in spec]]
            cat.save(table, df)


def _migrate_2_to_3(cat: "Catalog") -> None:
    """v2 → v3: backfill ``sourcenames.created_by`` from the earliest
    surviving version's uploader (the best available proxy for the
    original creator in an old warehouse)."""
    if not os.path.exists(cat._path("sourcenames")):
        return
    names = cat.load("sourcenames").copy()
    sources = (
        cat.load("sources")
        if os.path.exists(cat._path("sources"))
        else None
    )
    creators = {}
    if sources is not None and len(sources):
        earliest = sources.sort_values("version").groupby("sourcename_ix").first()
        creators = earliest["added_by"].to_dict()
    if "created_by" not in names.columns:
        names["created_by"] = None
    names["created_by"] = [
        row["created_by"]
        if isinstance(row.get("created_by"), str)
        else creators.get(row["ix"])
        for _, row in names.iterrows()
    ]
    cat.save("sourcenames", names)


def _migrate_3_to_4(cat: "Catalog") -> None:
    """v3 → v4: re-anchor ACL rows from version ix to the dataset's
    sourcename_ix (matching the reference's CanReadDataset keying).
    Multiple version rows of one dataset collapse to one anchored row
    at the *max* level — the pre-migration semantics aggregated levels
    across sibling versions, so max preserves every access a user had."""
    level_rank = {"read": 1, "update": 2, "manage": 3}
    sources = (
        cat.load("sources")
        if os.path.exists(cat._path("sources"))
        else None
    )

    def anchor(ix: int) -> int:
        if sources is None or not len(sources):
            return int(ix)
        row = sources[sources["ix"] == ix]
        return int(row.iloc[0]["sourcename_ix"]) if len(row) else int(ix)

    gp = os.path.join(cat.dir, "grants.parquet")
    if os.path.exists(gp):
        g = pd.read_parquet(gp)
        if "source_ix" in g.columns:
            g["sourcename_ix"] = [anchor(ix) for ix in g["source_ix"]]
            g = g.drop(columns=["source_ix"])
            g["__rank"] = g["level"].map(level_rank).fillna(0)
            g = (
                g.sort_values("__rank")
                .groupby(["sourcename_ix", "subject_type", "subject"], as_index=False)
                .last()
                .drop(columns=["__rank"])
            )
            _atomic_to_parquet(g, gp)

    pp = os.path.join(cat.dir, "public_sources.parquet")
    if os.path.exists(pp):
        p = pd.read_parquet(pp)
        if "source_ix" in p.columns:
            p["sourcename_ix"] = [anchor(ix) for ix in p["source_ix"]]
            p = p.drop(columns=["source_ix"])
            p["__rank"] = p["level"].map(level_rank).fillna(1)
            p = (
                p.sort_values("__rank")
                .groupby(["sourcename_ix"], as_index=False)
                .last()
                .drop(columns=["__rank"])
            )
            _atomic_to_parquet(p, pp)


# v4 → v5 reuses the generic schema reconcile: it adds the new
# sources.pending column with its bool default (False = visible),
# which is exactly the right backfill for every pre-v5 row
_MIGRATIONS = {
    1: _migrate_1_to_2,
    2: _migrate_2_to_3,
    3: _migrate_3_to_4,
    4: _migrate_1_to_2,
}


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.dir = os.path.join(warehouse, "catalog")
        self._cache: dict[str, pd.DataFrame] = {}
        # WAL bookkeeping: last sequence number per table (base
        # watermark ∨ last log line) and current log length
        self._seq: dict[str, int] = {}
        self._log_lines: dict[str, int] = {}
        # on-disk fingerprint each cache entry was built from — lets
        # refresh() keep entries whose files no other writer touched
        self._disk_token: dict[str, tuple] = {}
        # deferred mutations: WAL ops are fsynced immediately
        # (durability/ordering) but their O(n) frame materialization is
        # batched. Deletes OR a row mask into _pending_del_mask;
        # appended rows buffer as dicts in _pending_tail; updates hit
        # the frame in place (no copy) or the tail dict. load() folds
        # both into the frame with ONE filtered copy + ONE concat per
        # read burst, so a burst of k mutations is O(n + k) frame work
        # instead of O(n·k) (round-10: delete_source was 86 ms and an
        # ingest 22-33 ms at 100k sources, almost all per-op frame
        # copies). The live mirror of _replay_ops.
        self._pending_del_mask: dict[str, "object"] = {}
        self._pending_tail: dict[str, "list[dict]"] = {}
        # bumped on every write through THIS instance; state_token()
        # is the cross-instance (warehouse-state) change signal
        self.mutation_count = 0
        # bumped ONLY on in-place frame writes (the df.loc branches of
        # _apply_live): deletes/appends leave cached column snapshots
        # of the live frame valid — consumers (engine's delete-plane
        # reference scan) key on (frame identity, this counter) so a
        # delete BURST reuses its Arrow arrays while any update that
        # could rewrite a cell retires them
        self.inplace_write_count = 0
        # per-(table, column) sorted-key index for WAL probes: every
        # WAL where-clause / upsert pk leads with an immutable integer
        # identity column (ix / source_ix), so one stable argsort per
        # frame object turns the O(n) per-op equality pass of _mask
        # into an O(log n) searchsorted — the term that made a
        # frame-size-scaled compaction cadence unaffordable in round
        # 10. Entries hold a strong ref to the frame they were built
        # from and are identity-checked on every probe; writers that
        # touch an indexed column invalidate via _drop_key_entries.
        # The index builds on the SECOND probe against the same frame
        # (_key_seen tracks the first): the argsort is ~20× a single
        # numeric mask pass, so a frame probed once — the flush-each
        # delete pattern, where every flush mints a new frame object —
        # must not pay it (measured 42 → 103 ms/op at 1M when it did).
        self._key_sorted: dict[tuple, tuple] = {}
        self._key_seen: dict[tuple, object] = {}
        # memoized sources⋈sourcenames frame for search(): the merge is
        # O(n) per call (~60 ms of the 183 ms warm search at 100k
        # sources, CATALOG_SCALE_r10). Keyed on (mutation_count, frame
        # identities) — every in-place WAL mutation bumps the count,
        # and a refresh() reload swaps the frame objects; the tuple
        # keeps strong refs so CPython can't reuse the ids while the
        # entry is live.
        self._merged_cache: "tuple | None" = None
        # cold get_source point-reads served so far (see _cold_point_read)
        self._point_reads = 0
        self._lock_depth = 0
        self._lock_owner: int | None = None  # threading.get_ident() of holder
        import threading

        # same-process cross-thread writer serialization (server handler
        # threads, streaming foreachBatch vs main thread); the flock in
        # writer_lock only arbitrates between processes
        self._tlock = threading.RLock()

    def writer_lock(self, timeout: float = 600.0):
        """Exclusive warehouse writer lock (flock on
        ``catalog/.writer.lock``) held for the span of one mutating
        operation — an ingest, compaction, delete, or streaming batch.

        The catalog is parquet + an in-process pandas cache; without
        the lock, two engines mutating one warehouse interleave their
        read-modify-write cycles (both compute the same next source
        ix, one's sources.parquet write silently erases the other's
        row). The reference gets this for free from Postgres
        transactions (`Ingest.hs` runs each ingest in one); flock is
        the library-world equivalent. On acquisition the in-memory
        cache is dropped so this writer builds on the other writer's
        committed state. Reentrant within one Catalog instance FROM THE
        SAME THREAD only (an ingest inside a streaming batch
        re-enters); a second THREAD in this process serializes on an
        in-process RLock (flock alone can't arbitrate threads sharing
        one instance — a cross-thread writer seeing ``_lock_depth=1``
        must wait, not stroll through the reentrant branch), and a
        second PROCESS blocks on the flock. Either blocks up to
        ``timeout`` seconds, then fails cleanly with TimeoutError —
        never corrupting the catalog either way.
        """
        import contextlib
        import threading

        @contextlib.contextmanager
        def _guard():
            ident = threading.get_ident()
            if self._lock_depth and self._lock_owner == ident:
                self._lock_depth += 1
                try:
                    yield
                finally:
                    self._lock_depth -= 1
                return
            import time

            # one budget covers BOTH waits: a contender may spend part
            # of `timeout` on the in-process RLock and only the
            # remainder in the flock spin — the documented "blocks up
            # to timeout seconds" contract, not up to 2×
            t0 = time.monotonic()
            # cross-thread writers in this process serialize here; the
            # flock below arbitrates only between processes (a second
            # flock on the same file in one process would also block,
            # but with a spin-wait and no fairness)
            if not self._tlock.acquire(timeout=timeout):
                raise TimeoutError(
                    "another thread holds the warehouse writer lock for "
                    f"{self.dir}"
                )
            try:
                try:
                    import fcntl
                except ImportError:  # non-POSIX: single-process only
                    fcntl = None
                f = None
                if fcntl is not None:
                    os.makedirs(self.dir, exist_ok=True)
                    f = open(os.path.join(self.dir, ".writer.lock"), "a+")
                    while True:
                        try:
                            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                            break
                        except OSError:
                            if time.monotonic() - t0 > timeout:
                                f.close()
                                raise TimeoutError(
                                    "another writer holds the warehouse lock "
                                    f"{self.dir}/.writer.lock"
                                )
                            time.sleep(0.05)
                self._lock_depth = 1
                self._lock_owner = ident
                self.refresh()  # build on the other writer's committed state
                try:
                    yield
                finally:
                    self._lock_depth = 0
                    self._lock_owner = None
                    if f is not None:
                        fcntl.flock(f, fcntl.LOCK_UN)
                        f.close()
            finally:
                self._tlock.release()

        return _guard()

    # -- storage ------------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def _empty(self, table: str) -> pd.DataFrame:
        return pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in _TABLES[table].items()}
        )

    def state_token(self) -> str:
        """Digest of the on-disk catalog state (parquet names, sizes,
        mtimes). Changes whenever ANY writer mutates the warehouse —
        this instance, another Catalog object in-process, or an
        external process — so consumers (engine.sql's view
        registration) can memoize on warehouse state instead of a
        per-instance counter, which two instances could coincidentally
        share (round-3 advisory)."""
        import hashlib

        h = hashlib.blake2b(digest_size=16)
        try:
            entries = sorted(os.scandir(self.dir), key=lambda e: e.name)
        except FileNotFoundError:
            return "empty"
        for e in entries:
            if e.name.endswith(".parquet") or e.name.endswith(".log.jsonl"):
                st = e.stat()
                h.update(f"{e.name}:{st.st_mtime_ns}:{st.st_size};".encode())
        return h.hexdigest()

    def note_data_rewrite(self, source_ix: int, table: str) -> None:
        """Record that ``table``'s files were rewritten in place with no
        catalog row changing (``optimize_layout``'s directory swap).
        The line lands in ``data_rewrites.log.jsonl``, which
        :meth:`state_token` digests, so every session's ``sql()`` memo
        misses and re-registers the views that read the old files."""
        import json as _json

        os.makedirs(self.dir, exist_ok=True)
        line = {"ix": int(source_ix), "table": table, "at": _now()}
        with open(os.path.join(self.dir, "data_rewrites.log.jsonl"), "a") as fh:
            fh.write(_json.dumps(line) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def refresh(self, force: bool = False) -> None:
        """Invalidate the in-memory table cache so the next load()
        builds on committed on-disk state.

        Validity-aware (round-10: writer_lock refreshes on EVERY
        mutation, and an unconditional drop made each mutation replay
        the whole WAL tail with O(n) masks — the delete/ingest cost
        curve at 100k sources): a cached table is dropped only when its
        on-disk (base stat, log size) no longer matches the token
        captured when the cache entry was built — i.e. exactly when
        another writer actually committed something. ``force=True``
        drops everything unconditionally (cold-read simulation,
        corruption recovery)."""
        if force:
            self._cache.clear()
            self._key_sorted.clear()
            self._key_seen.clear()
            self._seq.clear()
            self._log_lines.clear()
            self._disk_token.clear()
            self._pending_del_mask.clear()
            self._pending_tail.clear()
            # a new cold epoch gets its point-read budget back
            self._point_reads = 0
            return
        for table in list(self._cache):
            if self._disk_token.get(table) != self._table_token(table):
                self._cache.pop(table, None)
                self._drop_key_entries(table)
                self._seq.pop(table, None)
                self._log_lines.pop(table, None)
                self._disk_token.pop(table, None)
                self._pending_del_mask.pop(table, None)
                self._pending_tail.pop(table, None)

    def _log_size(self, table: str) -> int:
        try:
            return os.stat(self._log_path(table)).st_size
        except FileNotFoundError:
            return 0

    def _table_token(self, table: str) -> "tuple":
        """(base stat, log size) fingerprint of a table's on-disk state
        — every committed mutation moves one of the two (appends grow
        the log; compaction/save replaces the base inode)."""
        return (self._base_stat(table), self._log_size(table))

    # -- write-ahead log ------------------------------------------------------
    #
    # Per-ingest full-parquet rewrites are O(#sources) each — measured
    # 28→73 ms/ingest from 1k→10k sources, O(n²) cumulative (round-8
    # verdict #6). Hot-path mutations (new version, row-count update,
    # finalize, tag, column set) therefore append ONE fsynced JSONL
    # line to ``<table>.log.jsonl`` instead; the base parquet carries
    # the sequence number of the last op it includes in its footer
    # metadata (atomic with the data via os.replace), and load() replays
    # only lines PAST that watermark — so a compaction or full save
    # racing a crash can never double-apply or lose an op. Ops are
    # row-keyed upserts / predicate updates / deletes; a multi-op "tx"
    # line applies atomically (one line, one fsync). The log compacts
    # back into the base every COMPACT_EVERY ops, under the writer lock
    # like every other mutation.

    # Compaction cadence balances two costs: per-ingest write
    # amplification (one full-table rewrite per compaction — O(rows))
    # against cold-open replay length (a fresh process replays the
    # whole log). A frame-size-scaled threshold was tried in round 10
    # and REVERTED because replay masks were O(rows) per line (6.3 s
    # cold opens at 100k). Round 12 made replay O(log rows) per line
    # (batch-local sorted-key indexes in _replay_ops), which makes the
    # scaled cadence affordable: _compact_every grows the log bound
    # with the frame so the amortized rewrite share stays ~constant
    # (the 5M checkpoint's 390 ms/op ingest was 85% base-rewrite
    # amortization at the fixed 128 cadence), while the replay bound
    # stays one argsort + O(lines·log rows) + per-line scalar writes.
    # COMPACT_EVERY is the floor (small catalogs compact promptly);
    # _COMPACT_CAP bounds worst-case replay and the JSONL parse.
    COMPACT_EVERY = 128
    _COMPACT_CAP = 4096

    def _compact_every(self, table: str) -> int:
        df = self._cache.get(table)
        n = len(df) if df is not None else 0
        return max(self.COMPACT_EVERY, min(self._COMPACT_CAP, n // 256))
    _SEQ_META = b"lagoon_applied_seq"

    def _log_path(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.log.jsonl")

    def _ensure_seq(self, table: str) -> int:
        """The table's current sequence number — max of the base's
        applied watermark and any log line — loading it from disk if
        this instance hasn't touched the table yet. save() MUST stamp
        a watermark ≥ every existing log line, or a crash between its
        base replace and log unlink would replay those lines onto a
        state that already (or no longer) reflects them."""
        if table not in self._seq:
            self.load(table)
        return self._seq.get(table, 0)

    @staticmethod
    def _mask(df: pd.DataFrame, where: dict) -> "pd.Series":
        """Boolean mask for a WAL where-clause.

        Evaluated cheapest-first (round-10, the 100k-catalog ingest
        cliff): numeric-column equality is a vectorized numpy compare
        (~0.2 ms at 200k rows) while OBJECT-dtype (string) equality is
        ~7 ms per pass — so numeric conditions run over the full frame
        and string conditions run only over the rows that survive
        them. Ingest-path ops key on fresh integer ix/source_ix values
        that match nothing or one row, so the object comparisons end
        up scanning a handful of rows instead of the whole catalog."""
        cols = sorted(
            where,
            key=lambda c: 0
            if c in df.columns and df[c].dtype.kind in "biufc"
            else 1,
        )
        if not cols:
            return pd.Series(True, index=df.index)
        live_idx = None  # None = the whole frame (skips one .loc copy)
        for c in cols:
            series = df[c] if live_idx is None else df.loc[live_idx, c]
            hit = (series == where[c]).to_numpy(dtype=bool)
            live_idx = (df.index if live_idx is None else live_idx)[hit]
            if not len(live_idx):
                break
        m = pd.Series(False, index=df.index)
        if len(live_idx):
            m.loc[live_idx] = True
        return m

    def _drop_key_entries(self, table: str, cols=None) -> None:
        """Invalidate sorted-key entries for ``table`` — all of them
        (frame replaced) or just the named columns (a WAL op wrote
        them). Dropping releases the entry's strong frame ref too."""
        if not self._key_sorted and not self._key_seen:
            return
        if cols is None:
            for k in [k for k in self._key_sorted if k[0] == table]:
                del self._key_sorted[k]
            for k in [k for k in self._key_seen if k[0] == table]:
                del self._key_seen[k]
        else:
            for c in cols:
                self._key_sorted.pop((table, c), None)
                self._key_seen.pop((table, c), None)

    def _probe_positions(self, table: str, df: pd.DataFrame, where: dict):
        """Row POSITIONS matching an equality where-clause via the
        cached sorted-key index, or None when the clause has no
        usable numeric lead column (caller falls back to _mask).

        The lead column's index is one stable argsort per frame object
        (identity-checked; ~60 ms at 1M rows, amortized over every op
        until the frame is replaced); each probe is two searchsorted
        calls plus a per-match walk of the residual columns — the live
        frame's CURRENT values, so earlier in-place writes are always
        visible. Residual columns cost O(matches), not O(n)."""
        import numpy as np

        cols = sorted(
            where,
            key=lambda c: 0
            if c in df.columns and df[c].dtype.kind in "biufc"
            else 1,
        )
        c0 = cols[0]
        if c0 not in df.columns or df[c0].dtype.kind not in "biufc":
            return None
        ent = self._key_sorted.get((table, c0))
        if ent is None or ent[0] is not df:
            if self._key_seen.get((table, c0)) is not df:
                # first probe against this frame: a lone probe (the
                # flush-each delete pattern replaces the frame per op)
                # is cheaper through _mask than through an argsort it
                # would never reuse — build on the second probe
                self._key_seen[(table, c0)] = df
                return None
            arr = df[c0].to_numpy()
            order = np.argsort(arr, kind="stable")
            ent = (df, arr[order], order)
            self._key_sorted[(table, c0)] = ent
        _, sv, order = ent
        try:
            lo = np.searchsorted(sv, where[c0], side="left")
            hi = np.searchsorted(sv, where[c0], side="right")
        except TypeError:
            return None
        pos = order[lo:hi]
        for c in cols[1:]:
            if not len(pos):
                break
            keep = (df[c].iloc[pos] == where[c]).to_numpy(dtype=bool)
            pos = pos[keep]
        return np.sort(pos)

    def _log_op(self, table: str, op: dict) -> None:
        """Append ``op`` to the table's WAL (one fsynced line = one
        atomic mutation), then apply it incrementally to the cached
        frame (no whole-frame copy — see :meth:`_apply_live`). The
        frame materializes lazily at the next load().

        Durable-first ordering (round-10 advice): if the fsync append
        fails (disk full, permissions) the in-memory state has NOT
        moved, so cache and disk stay consistent. The table is loaded
        BEFORE the append — a load afterwards would replay the new WAL
        line and then :meth:`_apply_live` would apply it twice. If the
        live apply itself dies mid-op, the cache entry is dropped so
        the next read replays the (complete) WAL instead of reading a
        half-applied frame."""
        if table not in self._cache:
            self.load(table)
        self._append_op(table, op)
        try:
            self._apply_live(table, op)
        except Exception:
            self._cache.pop(table, None)
            self._drop_key_entries(table)
            self._pending_del_mask.pop(table, None)
            self._pending_tail.pop(table, None)
            self._disk_token.pop(table, None)
            raise
        if self._log_lines[table] >= self._compact_every(table):
            # compaction: base absorbs the log
            self.save(table, self._flush_pending(table))

    @staticmethod
    def _matches(rec: dict, where: dict) -> bool:
        return all(rec.get(c) == v for c, v in where.items())

    def _apply_live(self, table: str, op: dict) -> None:
        """Apply one op to the cached frame WITHOUT any whole-frame
        copy — the live mirror of :meth:`_replay_ops`. Updates hit the
        frame in place (``df.loc``) or a pending tail dict; appends
        buffer in the tail; deletes OR into the pending mask and drop
        tail dicts. The WAL line is fsynced by the caller either way,
        so durability and replay ordering are exactly as before; only
        the in-memory materialization is deferred to load()."""
        kind = op["op"]
        if kind == "tx":
            for sub in op["ops"]:
                self._apply_live(table, sub)
            return
        if table not in self._cache:
            self.load(table)
        df = self._cache[table]
        pm = self._pending_del_mask.get(table)
        tail = self._pending_tail.setdefault(table, [])
        if kind == "up":
            pk = op["pk"]
            for row in op["rows"]:
                key = {c: row[c] for c in pk}
                idx = []
                if len(df):
                    pos = self._probe_positions(table, df, key)
                    if pos is None:
                        hit = self._mask(df, key).to_numpy(dtype=bool)
                        if pm is not None:
                            # a pending-deleted row must read as
                            # absent: updating it would lose the
                            # re-insert
                            hit &= ~pm
                        idx = df.index[hit]
                    else:
                        if pm is not None and len(pos):
                            pos = pos[~pm[pos]]
                        idx = df.index[pos]
                if len(idx):
                    self.inplace_write_count += 1
                    # matched rows hold the pk values already (that is
                    # what matched), so only NON-pk writes can stale a
                    # sorted-key entry
                    self._drop_key_entries(table, set(row) - set(pk))
                    for k, v in row.items():
                        df.loc[idx, k] = v
                    continue
                live = next(
                    (r for r in tail if self._matches(r, key)), None
                )
                if live is not None:
                    live.update(row)
                else:
                    tail.append(dict(row))
            return
        if kind == "set":
            if len(df):
                # dead (pending-deleted) rows may be written too —
                # harmless, they drop at flush
                pos = self._probe_positions(table, df, op["where"])
                idx = (
                    df.index[self._mask(df, op["where"])]
                    if pos is None
                    else df.index[pos]
                )
                if len(idx):
                    self.inplace_write_count += 1
                    self._drop_key_entries(table, op["fields"])
                for k, v in op["fields"].items():
                    df.loc[idx, k] = v
            for r in tail:
                if self._matches(r, op["where"]):
                    r.update(op["fields"])
            return
        if kind == "del":
            if len(df):
                import numpy as np

                pos = self._probe_positions(table, df, op["where"])
                if pos is None:
                    hit = self._mask(df, op["where"]).to_numpy(
                        dtype=bool
                    )
                else:
                    hit = np.zeros(len(df), dtype=bool)
                    hit[pos] = True
                if hit.any():
                    self._pending_del_mask[table] = (
                        hit if pm is None else (pm | hit)
                    )
            if tail:
                kept = [
                    r for r in tail if not self._matches(r, op["where"])
                ]
                if len(kept) != len(tail):
                    self._pending_tail[table] = kept
            return
        raise ValueError(f"unknown catalog log op {kind!r}")

    def _append_op(self, table: str, op: dict) -> None:
        """Append one op line to the table's WAL, fsynced."""
        import json as _json

        os.makedirs(self.dir, exist_ok=True)
        seq = self._seq.get(table, 0) + 1
        op = {"seq": seq, **op}
        with open(self._log_path(table), "a") as fh:
            fh.write(_json.dumps(op, default=_json_scalar) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        self._seq[table] = seq
        self._log_lines[table] = self._log_lines.get(table, 0) + 1
        self._disk_token[table] = self._table_token(table)
        self.mutation_count += 1

    @staticmethod
    def _compact_delete_only(df: pd.DataFrame, pm) -> "pd.DataFrame | None":
        """O(deleted) in-place fold for a delete-only pending mask:
        move the last k surviving rows into the k holes (per-column
        numpy view writes), then truncate with a zero-copy positional
        slice. The whole-frame boolean take this replaces was the
        dominant term of the one-off delete at the 1M-source tier
        (round-11 verdict #5: 216 ms/op flush-each vs 68 amortized —
        ~150 ms of it the filtered copy of a frame that lost ONE row).

        Row ORDER permutes. Catalog tables are sets keyed by ix /
        source_ix — every consumer filters or sorts (search orders via
        _ReadIndex, dumps sort explicitly), so order was never part of
        the contract; this is the same order-freedom a Postgres heap
        table gives the reference.

        ``Series.to_numpy()`` must return a VIEW for the in-place
        write to land — true for every numpy-backed block (all catalog
        schemas), but an extension-dtype column would silently hand
        back a copy and the deleted rows would resurface. Each column
        therefore verifies one written cell through the frame and the
        whole fold returns None (caller falls back to the boolean
        take) if the write didn't stick. A partial fill is safe either
        way: only DELETED rows were overwritten."""
        import numpy as np

        pm = np.asarray(pm, dtype=bool)
        m = len(df) - int(pm.sum())
        hole_pos = np.flatnonzero(pm[:m])
        tail_keep = np.flatnonzero(~pm[m:]) + m
        if len(hole_pos):
            for c in df.columns:
                arr = df[c].to_numpy()
                src = arr[tail_keep]
                arr[hole_pos] = src
                back = df[c].to_numpy()[hole_pos[0]]
                s0 = src[0]
                if not (
                    back is s0
                    or back == s0
                    or (back != back and s0 != s0)  # NaN == NaN is False
                ):
                    return None  # to_numpy() copied — take the slow path
        out = df.iloc[:m]
        out.index = pd.RangeIndex(m)
        return out

    def _flush_pending(self, table: str) -> pd.DataFrame:
        """Materialize pending deletes + appended tail into the cached
        frame — O(deleted) in place for the delete-only case, else one
        filtered copy + one concat for the whole batch."""
        df = self._cache[table]
        pm = self._pending_del_mask.pop(table, None)
        tail = self._pending_tail.pop(table, None)
        deleted = pm is not None and pm.any()
        if deleted and not tail:
            folded = self._compact_delete_only(df, pm)
            if folded is not None:
                # the hole-fill moved cell values inside the SHARED
                # blocks, so indexes built on the old frame object are
                # stale even though its buffers live on
                self._drop_key_entries(table)
                self._cache[table] = folded
                return folded
        if deleted:
            df = df[~pm]
        if tail:
            df = pd.concat([df, pd.DataFrame(tail)], ignore_index=True)
        elif deleted:
            df.index = pd.RangeIndex(len(df))
        if deleted or tail:
            self._drop_key_entries(table)
            self._cache[table] = df
        return df

    def _has_pending(self, table: str) -> bool:
        pm = self._pending_del_mask.get(table)
        return (pm is not None and pm.any()) or bool(
            self._pending_tail.get(table)
        )

    def peek(self, table: str) -> "tuple[pd.DataFrame, object, tuple]":
        """(frame, pending-delete mask | None, pending tail rows)
        WITHOUT flushing: for read paths that can consult the pending
        state themselves (vectorized scans + a tail walk) and must not
        force the O(n) materialization copy mid mutation burst. Rows
        where the mask is True are deleted; tail rows are appended rows
        not yet in the frame. The frame and mask are LIVE internal
        state valid only until the next mutation (round-10 advice) —
        treat them as read-only snapshots and consume them before
        mutating; the tail is returned as a tuple so a later ``up``
        op's in-place list mutation can't change it under the caller
        (the row DICTS inside are still live references)."""
        if table not in self._cache:
            self.load(table)
        return (
            self._cache[table],
            self._pending_del_mask.get(table),
            tuple(self._pending_tail.get(table) or ()),
        )

    def _read_base(self, table: str) -> "tuple[pd.DataFrame, int]":
        p = self._path(table)
        if not os.path.exists(p):
            return self._empty(table), 0
        import pyarrow.parquet as pq

        t = pq.read_table(p)
        md = t.schema.metadata or {}
        seq = int(md.get(self._SEQ_META, b"0"))
        return t.to_pandas(), seq

    def _replay_ops(self, df: pd.DataFrame, ops: "list[dict]") -> pd.DataFrame:
        """Bulk-apply a replay batch. Appended rows buffer in a Python
        tail list and concat ONCE — per-op ``pd.concat`` rebuilds the
        whole frame (O(ops·n): measured ~2 s to cold-open a 10k-source
        warehouse with a ~1.2k-line log). Updates and deletes apply to
        the frame vectorized and to the tail dicts directly; semantics
        are identical to :meth:`_apply_live` op-by-op.

        Probes go through batch-local sorted-key indexes (one stable
        argsort per lead column for the whole batch, O(log n) per
        line) instead of _mask's O(n) pass per line — the cost that
        capped the compaction cadence at 128 (round-10's scaled-cadence
        revert). Deletes flip an ``alive`` mask and subset ONCE at the
        end, so row positions stay stable for the indexes and the
        per-delete filtered frame copy disappears.

        Frame writes DEFER into per-column {position: value} maps and
        land as one positional assignment per column at the end —
        df.loc per line is ~1 ms on a 1M frame (block manager
        overhead), which made the scaled cadence's longer logs pay
        ~1.2 s of pure write overhead at cold open. Deferral is
        last-writer-wins per (column, position), which is exactly the
        sequential semantics; the two reads that could observe a
        deferred write — a probe on a written column and an index
        (re)build on a written lead column — flush that column first."""
        import numpy as np

        tail: "list[dict]" = []
        alive = np.ones(len(df), dtype=bool)
        sorted_keys: "dict[str, tuple]" = {}
        deferred: "dict[str, dict[int, object]]" = {}
        # cached numpy views per column for residual-column compares —
        # df[c].iloc[pos] builds a Series per probe (~1 ms on a 10M
        # frame); a[pos] on the cached view is microseconds. Flushed
        # writes drop the affected column (df.iloc may lay down a new
        # block, and copy-on-write pandas would detach the old one).
        col_arrays: "dict[str, object]" = {}
        # tail rows indexed by (pk columns, pk values): an ingest-burst
        # replay is mostly up-appends, and the linear tail scan per op
        # made long logs quadratic in appended rows (420k matches()
        # calls for an 870-line log at 5M). In-place row updates keep
        # their key (matched pk values are equal by definition); a set
        # that writes a mapped pk column or a del that removes tail
        # rows clears the map (rare), falling back to the scan. When
        # every tail row is mapped under one shape (map_shapes), a map
        # MISS proves no tail row matches that shape — both the up
        # fallback scan and the set scan skip entirely.
        tail_map: "dict[tuple, dict]" = {}
        map_shapes: "set[tuple]" = set()

        def tail_complete(shape: tuple) -> bool:
            return len(tail_map) == len(tail) and map_shapes <= {shape}

        def flush_writes(cols=None):
            names = (
                list(deferred)
                if cols is None
                else [c for c in cols if c in deferred]
            )
            for c in names:
                m = deferred.pop(c)
                if not m:
                    continue
                pos = np.fromiter(m.keys(), dtype=np.int64, count=len(m))
                df.iloc[pos, df.columns.get_loc(c)] = list(m.values())
                col_arrays.pop(c, None)

        def flat(ops):
            for op in ops:
                if op["op"] == "tx":
                    yield from op["ops"]
                else:
                    yield op

        def matches(rec: dict, where: dict) -> bool:
            return all(rec.get(c) == v for c, v in where.items())

        def positions(where: dict):
            """Alive row positions matching the equality clause."""
            flush_writes(where)
            cols = sorted(
                where,
                key=lambda c: 0
                if c in df.columns and df[c].dtype.kind in "biufc"
                else 1,
            )
            c0 = cols[0]
            if c0 in df.columns and df[c0].dtype.kind in "biufc":
                ent = sorted_keys.get(c0)
                if ent is None:
                    arr = df[c0].to_numpy()
                    order = np.argsort(arr, kind="stable")
                    ent = sorted_keys[c0] = (arr[order], order)
                sv, order = ent
                try:
                    pos = order[
                        np.searchsorted(sv, where[c0], side="left"):
                        np.searchsorted(sv, where[c0], side="right")
                    ]
                except TypeError:
                    pos = None
                if pos is not None:
                    pos = pos[alive[pos]]
                    for c in cols[1:]:
                        if not len(pos):
                            break
                        a = col_arrays.get(c)
                        if a is None:
                            a = col_arrays[c] = df[c].to_numpy()
                        keep = a[pos] == where[c]
                        pos = pos[keep] if keep is not True else pos
                    return pos
            m = self._mask(df, where).to_numpy(dtype=bool) & alive
            return np.flatnonzero(m)

        for op in flat(ops):
            kind = op["op"]
            if kind == "up":
                pk = op["pk"]
                for row in op["rows"]:
                    key = {c: row[c] for c in pk}
                    pos = positions(key) if len(df) else ()
                    if len(pos):
                        # matched rows already hold the pk values;
                        # only non-pk writes can stale a key index —
                        # and deferring a pk write would force the
                        # next probe on that column to flush it (one
                        # df.iloc write per line, the cost this
                        # deferral exists to avoid), so pk columns are
                        # skipped outright: writing an equal value is
                        # a no-op
                        for c in set(row) - set(pk):
                            sorted_keys.pop(c, None)
                        for k, v in row.items():
                            if k in pk:
                                continue
                            col = deferred.setdefault(k, {})
                            for p in pos:
                                col[int(p)] = v
                        continue
                    pkc = tuple(sorted(pk))
                    kt = (pkc, tuple(key[c] for c in pkc))
                    hit = tail_map.get(kt)
                    if hit is None and not tail_complete(pkc):
                        hit = next(
                            (r for r in tail if matches(r, key)), None
                        )
                    if hit is not None:
                        hit.update(row)
                        tail_map[kt] = hit
                    else:
                        rec = dict(row)
                        tail.append(rec)
                        tail_map[kt] = rec
                    map_shapes.add(pkc)
            elif kind == "set":
                pos = positions(op["where"]) if len(df) else ()
                if len(pos):
                    for c in op["fields"]:
                        sorted_keys.pop(c, None)
                    for k, v in op["fields"].items():
                        col = deferred.setdefault(k, {})
                        for p in pos:
                            col[int(p)] = v
                wcols = tuple(sorted(op["where"]))
                if tail and tail_complete(wcols):
                    # every tail row is mapped under exactly the
                    # where-clause's column set: one O(1) probe
                    # replaces the full scan (the dominant set shape —
                    # {"ix": v} against an ingest burst's appends)
                    r = tail_map.get(
                        (wcols, tuple(op["where"][c] for c in wcols))
                    )
                    rows_hit = [r] if r is not None else []
                else:
                    rows_hit = [
                        r for r in tail if matches(r, op["where"])
                    ]
                for r in rows_hit:
                    r.update(op["fields"])
                if rows_hit and any(
                    c in pkc
                    for c in op["fields"]
                    for pkc in map_shapes
                ):
                    tail_map.clear()  # a mapped pk value may have moved
                    map_shapes.clear()
            elif kind == "del":
                if len(df):
                    alive[positions(op["where"])] = False
                kept = [r for r in tail if not matches(r, op["where"])]
                if len(kept) != len(tail):
                    tail_map.clear()
                    map_shapes.clear()
                tail = kept
            else:
                raise ValueError(f"unknown catalog log op {kind!r}")
        flush_writes()  # before the subset: positions are pre-subset
        if not alive.all():
            df = df[alive]
        if tail:
            df = pd.concat(
                [df, pd.DataFrame(tail)], ignore_index=True
            )
        elif not df.index.equals(pd.RangeIndex(len(df))):
            # in-place index repair instead of a reset_index(drop=True)
            # whole-frame copy; the frame here is replay-private
            df.index = pd.RangeIndex(len(df))
        return df

    def load(self, table: str) -> pd.DataFrame:
        if table not in self._cache:
            # Suspend cyclic GC for the bounded disk→frame build: a
            # multi-million-row object-dtype load materializes ~10⁸
            # PyObjects, and every gen-2 collection that fires mid-load
            # scans all objects allocated so far — measured 10-43 s of
            # pure GC variance on an otherwise-stable ~9 s cold open at
            # the 5M synthetic checkpoint (cold_open_with_wal_ms swung
            # 19.8/28.3/53.3 s across identical runs; 19.8 with the
            # collector off). The frames are cycle-free scalars, so
            # deferring collection to re-enable time is safe and the
            # pause disappears. finally-restored; no-op when the caller
            # already disabled GC (tune_gc_for_large_catalog).
            import gc

            _gc_was_on = gc.isenabled()
            if _gc_was_on:
                gc.disable()
            try:
                return self._load_cold(table)
            finally:
                if _gc_was_on:
                    gc.enable()
        if self._has_pending(table):
            return self._flush_pending(table)
        return self._cache[table]

    def _load_cold(self, table: str) -> pd.DataFrame:
        import json as _json

        def read_snapshot() -> "tuple[pd.DataFrame, int, int, list]":
            df, applied = self._read_base(table)
            seq, lines, pending = applied, 0, []
            lp = self._log_path(table)
            if os.path.exists(lp):
                with open(lp) as fh:
                    for line in fh:
                        try:
                            op = _json.loads(line)
                        except ValueError:
                            break  # torn tail from a killed writer
                        lines += 1
                        if op["seq"] > applied:
                            pending.append(op)
                        seq = max(seq, op["seq"])
            return df, seq, lines, pending

        # base + log are TWO files, so a lock-free reader can race
        # a concurrent compaction: base read BEFORE the os.replace,
        # log read AFTER the unlink/re-append would replay new-base
        # ops onto the old base. Re-stat the base after reading the
        # log and retry if it moved — each pass is a consistent
        # snapshot or detectably stale, never a chimera.
        for _attempt in range(8):
            base_key = self._base_stat(table)
            log_sz = self._log_size(table)
            df, seq, lines, pending = read_snapshot()
            if self._base_stat(table) == base_key:
                break
        else:
            # round-10 verdict #2: a writer hot enough to move the
            # base 8 times mid-read must not make us cache a
            # possibly-chimeric snapshot. One authoritative re-read
            # under the writer lock — compaction replaces the base
            # only while holding it, so this read is consistent by
            # construction (the flock is re-entrant in-thread, so a
            # load() issued inside a writing transaction is safe).
            with self.writer_lock():
                base_key = self._base_stat(table)
                log_sz = self._log_size(table)
                df, seq, lines, pending = read_snapshot()
        if pending:
            df = self._replay_ops(df, pending)
        self._drop_key_entries(table)
        self._cache[table] = df
        self._seq[table] = seq
        self._log_lines[table] = lines
        # fingerprint captured BEFORE the read: bytes appended
        # mid-read can only over-invalidate, never go stale
        self._disk_token[table] = (base_key, log_sz)
        # a disk read already replayed every logged op; pending
        # state from a dropped cache entry is stale by construction
        self._pending_del_mask.pop(table, None)
        self._pending_tail.pop(table, None)
        if self._has_pending(table):
            return self._flush_pending(table)
        return self._cache[table]

    def _base_stat(self, table: str) -> "tuple | None":
        try:
            st = os.stat(self._path(table))
            return (st.st_mtime_ns, st.st_size, st.st_ino)
        except FileNotFoundError:
            return None

    def save(self, table: str, df: pd.DataFrame) -> None:
        if self._has_pending(table):
            # save() retires the WAL, so a frame that predates pending
            # (logged-but-unmaterialized) mutations would silently undo
            # them. Every internal caller loads (which flushes) before
            # saving — reaching here means a caller skipped that.
            raise RuntimeError(
                f"save({table!r}) with unmaterialized pending deletes"
                " or appends; call load() first"
            )
        os.makedirs(self.dir, exist_ok=True)
        seq = self._ensure_seq(table)
        self._drop_key_entries(table)
        self._cache[table] = df.reset_index(drop=True)
        # write-temp-then-rename: a writer killed mid-write (OOM,
        # kill -9, node loss) must never leave a truncated parquet
        # where a catalog table used to be — os.replace is atomic on
        # POSIX, so readers see the old table or the new one, nothing
        # in between (round-8 crash-safety; the reference gets this
        # from Postgres WAL). The applied-seq watermark rides in the
        # SAME file, so the WAL replay boundary moves atomically with
        # the data: a crash between this replace and the log unlink
        # replays nothing twice (stale lines are below the watermark).
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self._path(table)
        tmp = p + f".tmp.{os.getpid()}"
        try:
            t = pa.Table.from_pandas(
                self._cache[table], preserve_index=False
            )
            t = t.replace_schema_metadata(
                {**(t.schema.metadata or {}), self._SEQ_META: str(seq).encode()}
            )
            pq.write_table(t, tmp)
            os.replace(tmp, p)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        lp = self._log_path(table)
        if os.path.exists(lp):
            os.unlink(lp)
        self._log_lines[table] = 0
        self._disk_token[table] = (self._base_stat(table), 0)
        self.mutation_count += 1

    def init_db(self, reset: bool = False) -> None:
        """A29: create (or reset) the catalog storage; an existing
        warehouse written by an older layout is upgraded in place
        through the migration chain first."""
        if reset:
            import shutil

            if os.path.exists(self.warehouse):
                shutil.rmtree(self.warehouse)
        os.makedirs(self.dir, exist_ok=True)
        if not reset and self.schema_version() > 0:
            self.migrate()
        for t in _TABLES:
            if reset or not os.path.exists(self._path(t)):
                self.save(t, self._empty(t))
        self._write_version(CATALOG_VERSION)

    # -- schema migrations (A29; `DB/Migration.hs:71-120` parity) -----------

    def schema_version(self) -> int:
        """0 = empty warehouse, 1 = pre-dbmeta layout (rounds 1-2),
        else the recorded version."""
        p = self._path("dbmeta")
        if os.path.exists(p):
            meta = pd.read_parquet(p)
            hit = meta[meta["key"] == "schema_version"]
            if len(hit):
                return int(hit.iloc[0]["value"])
        if any(os.path.exists(self._path(t)) for t in _TABLES):
            return 1
        return 0

    def _write_version(self, version: int) -> None:
        os.makedirs(self.dir, exist_ok=True)
        pd.DataFrame(
            [{"key": "schema_version", "value": str(version)}]
        ).to_parquet(self._path("dbmeta"), index=False)

    def migrate(self) -> int:
        """Chain migrations version-by-version up to CATALOG_VERSION
        (the reference walks its migration list the same way,
        `src/backend/src/Lagoon/DB/Migration.hs:71-120`). Returns the
        final version. Unknown future versions fail loudly."""
        v = self.schema_version()
        if v > CATALOG_VERSION:
            raise RuntimeError(
                f"warehouse schema v{v} is newer than this engine "
                f"(v{CATALOG_VERSION}); refusing to downgrade"
            )
        while v < CATALOG_VERSION:
            step = _MIGRATIONS.get(v)
            if step is None:
                raise RuntimeError(f"no migration from catalog schema v{v}")
            step(self)
            v += 1
            self._write_version(v)
            self._cache.clear()
            self._key_sorted.clear()
            self._key_seen.clear()
        return v

    # -- sources / versions (A14, A15) --------------------------------------

    def new_source(
        self,
        name: str,
        *,
        url: str | None,
        description: str | None,
        added_by: str,
        created: str | None,
        fmt: str,
    ) -> tuple[int, int, str, str]:
        """Allocate (source_ix, version, table_name, view_name); bump the
        per-name version counter and auto-deprecate the previous latest.

        Lookups are pending-aware (:meth:`peek`) rather than flushing
        loads, so an ingest burst stays O(1) frame copies amortized —
        the deferred-mutation contract (round-10)."""
        import numpy as np

        names, nm, ntail = self.peek("sourcenames")
        sn_ix = None
        if len(names):
            hit = names["name"].to_numpy() == name
            if nm is not None:
                hit &= ~nm
            if hit.any():
                sn_ix = int(names["ix"].to_numpy()[np.argmax(hit)])
        if sn_ix is None:
            t_hit = next(
                (r for r in ntail if r.get("name") == name), None
            )
            if t_hit is not None:
                sn_ix = int(t_hit["ix"])
        if sn_ix is None:
            mx = 0
            if len(names):
                alive_ix = names["ix"].to_numpy()
                if nm is not None:
                    alive_ix = alive_ix[~nm]
                if len(alive_ix):
                    mx = int(alive_ix.max())
            for r in ntail:
                mx = max(mx, int(r["ix"]))
            sn_ix = mx + 1
            self._log_op(
                "sourcenames",
                {
                    "op": "up",
                    "pk": ["ix"],
                    "rows": [
                        {"ix": sn_ix, "name": name, "created_by": added_by}
                    ],
                },
            )
        # version numbers continue from the last COMMITTED version:
        # counting a crashed writer's pending debris would leave a gap
        # in the dataset's version chain (a streaming replay after an
        # interrupt must mint v3, not v4). A debris row may therefore
        # share its number with the committed retry — only one of the
        # two is ever visible, and vacuum sweeps the invisible one.
        sources, sm, stail = self.peek("sources")
        ver = 0
        if len(sources):
            mine = sources["sourcename_ix"].to_numpy() == sn_ix
            if sm is not None:
                mine &= ~sm
            if "pending" in sources.columns:
                mine &= ~(
                    sources["pending"].fillna(False).to_numpy(dtype=bool)
                )
            if mine.any():
                ver = int(sources["version"].to_numpy()[mine].max())
        for r in stail:
            if r.get("sourcename_ix") == sn_ix and not r.get(
                "pending", False
            ):
                ver = max(ver, int(r["version"]))
        version = ver + 1
        mxi = 0
        if len(sources):
            ixa = sources["ix"].to_numpy()
            if sm is not None:
                ixa = ixa[~sm]
            if len(ixa):
                mxi = int(ixa.max())
        for r in stail:
            mxi = max(mxi, int(r["ix"]))
        ix = mxi + 1
        # NOTE: auto-deprecation of the previous latest happens in
        # finalize_source, not here — a writer killed mid-ingest must
        # leave the old latest exactly as it was
        view_name = f"{sanitize(name)}_v{version}"
        row = {
            "ix": ix,
            "sourcename_ix": sn_ix,
            "version": version,
            "url": url,
            "description": description if description is not None else name,
            "created": created or _now(),
            "added_by": added_by,
            "table_name": f"t{ix}",
            "view_name": view_name,
            "typed_table_name": None,
            "typed_view_name": None,
            "deprecated": False,
            "row_count": 0,
            "format": fmt,
            "json_type": None,
            # invisible until the ingest's final update_source clears it
            # (crash-safe: a killed writer leaves only invisible debris)
            "pending": True,
        }
        self._log_op("sources", {"op": "up", "pk": ["ix"], "rows": [row]})
        return ix, version, f"t{ix}", view_name

    def _ix_alive(self, ix: int) -> bool:
        """Pending-aware existence check for a sources row (no flush)."""
        sources, sm, stail = self.peek("sources")
        if len(sources):
            hit = sources["ix"].to_numpy() == ix
            if sm is not None:
                hit &= ~sm
            if hit.any():
                return True
        return any(r.get("ix") == ix for r in stail)

    def update_source(self, ix: int, **fields) -> None:
        if not self._ix_alive(ix):
            raise KeyError(f"no source ix={ix}")
        self._log_op(
            "sources",
            {"op": "set", "where": {"ix": int(ix)}, "fields": dict(fields)},
        )

    def finalize_source(self, ix: int) -> None:
        """Commit a version minted by :meth:`new_source`: clear the
        ``pending`` visibility latch and auto-deprecate the previous
        latest version of the same name — in ONE catalog write, so
        there is no window where both versions read as current.
        Everything before this call is invisible debris a crash can
        leave behind (vacuum sweeps it); everything after is a
        committed version."""
        import numpy as np

        sources, sm, stail = self.peek("sources")
        sn_ix = version = None
        if len(sources):
            hit = sources["ix"].to_numpy() == ix
            if sm is not None:
                hit &= ~sm
            if hit.any():
                pos = int(np.argmax(hit))
                sn_ix = int(sources["sourcename_ix"].to_numpy()[pos])
                version = int(sources["version"].to_numpy()[pos])
        if sn_ix is None:
            t_hit = next((r for r in stail if r.get("ix") == ix), None)
            if t_hit is None:
                raise KeyError(f"no source ix={ix}")
            sn_ix = int(t_hit["sourcename_ix"])
            version = int(t_hit["version"])
        ops = []
        prev_ixs: "list[int]" = []
        if len(sources):
            pv = (sources["sourcename_ix"].to_numpy() == sn_ix) & (
                sources["version"].to_numpy() == version - 1
            )
            if sm is not None:
                pv &= ~sm
            prev_ixs = [int(x) for x in sources["ix"].to_numpy()[pv]]
        for r in stail:
            if (
                r.get("sourcename_ix") == sn_ix
                and r.get("version") == version - 1
            ):
                prev_ixs.append(int(r["ix"]))
        for pix in prev_ixs:
            ops.append(
                {
                    "op": "set",
                    "where": {"ix": int(pix)},
                    "fields": {"deprecated": True},
                }
            )
        ops.append(
            {
                "op": "set",
                "where": {"ix": int(ix)},
                "fields": {"pending": False},
            }
        )
        # one WAL line = one fsync = both mutations commit atomically:
        # no window where old and new version both read as current
        self._log_op("sources", {"op": "tx", "ops": ops})

    def set_deprecated(self, ix: int, deprecated: bool = True) -> None:
        self.update_source(ix, deprecated=deprecated)

    def set_columns(self, ix: int, cols: list[tuple[str, str, str]]) -> None:
        rows = [
            {"source_ix": int(ix), "column_name": c, "header": h, "type": t}
            for c, h, t in cols
        ]
        self._log_op(
            "sourcecolumns",
            {
                "op": "tx",
                "ops": [
                    {"op": "del", "where": {"source_ix": int(ix)}},
                    {
                        "op": "up",
                        "pk": ["source_ix", "column_name"],
                        "rows": rows,
                    },
                ],
            },
        )

    # -- tags (A16, A17) ----------------------------------------------------

    def tag(self, ix: int, tag: str) -> None:
        tags, tm, ttail = self.peek("tags")
        exists = False
        if len(tags):
            hit = (tags["source_ix"].to_numpy() == ix) & (
                tags["tag"].to_numpy() == tag
            )
            if tm is not None:
                hit &= ~tm
            exists = bool(hit.any())
        if not exists:
            exists = any(
                r.get("source_ix") == ix and r.get("tag") == tag
                for r in ttail
            )
        if not exists:
            self._log_op(
                "tags",
                {
                    "op": "up",
                    "pk": ["source_ix", "tag"],
                    "rows": [{"source_ix": int(ix), "tag": tag}],
                },
            )

    def untag(self, ix: int, tag: str) -> None:
        self._log_op(
            "tags", {"op": "del", "where": {"source_ix": int(ix), "tag": tag}}
        )

    def get_column(self, ix: int, column: str) -> tuple[str, str, str]:
        """Look up one column of a source by physical or friendly name
        (parity with the reference's GetColumn command,
        `src/interface/src/Lagoon/Interface/Prog.hs`). Returns
        (physical_name, header, type); KeyError if absent."""
        sc = self.load("sourcecolumns")
        mine = sc[sc["source_ix"] == ix]
        hit = mine[(mine["column_name"] == column) | (mine["header"] == column)]
        if not len(hit):
            raise KeyError(f"no column {column!r} in source ix={ix}")
        r = hit.iloc[0]
        return (str(r["column_name"]), str(r["header"]), str(r["type"]))

    def find_by_tag(self, tag: str) -> list[int]:
        tags = self.load("tags")
        return [int(x) for x in tags[tags["tag"] == tag]["source_ix"]]

    # -- lookup -------------------------------------------------------------

    #: cold point-reads served before falling back to the full load —
    #: a read-heavy caller (REST server after restart) should warm the
    #: cache once instead of paying a filtered parquet scan per call
    _POINT_READ_MAX = 3

    def _cold_point_read(
        self, name: str, version: int | None
    ) -> "SourceInfo | None":
        """Cold-start point lookup: when NONE of the read tables is
        cached yet (fresh process) and their WALs are empty, answer
        ``get_source`` from four FILTERED parquet reads instead of
        materializing the whole catalog into pandas — at the 1M-source
        synthetic checkpoint the full load costs ~1.6 s while the
        filtered scans answer in ~100-250 ms (round-10 verdict #7).
        The pyarrow dataset scanner evaluates the predicate during the
        scan, so only matching rows ever become Python objects; any
        inconsistency (WAL lines, missing files, concurrent compaction
        mid-read) returns None and the caller takes the normal path."""
        tables = ("sourcenames", "sources", "sourcecolumns", "tags")
        if any(t in self._cache for t in tables):
            return None
        if self._point_reads >= self._POINT_READ_MAX:
            return None
        for t in tables:
            if self._log_size(t) != 0 or not os.path.exists(self._path(t)):
                return None
        # snapshot fingerprints BEFORE the four reads: they are not one
        # atomic snapshot, so a writer in another process committing
        # between them could pair a new sourcenames base with the old
        # sources base — a spurious "no committed version" for a fully
        # committed source. Any token that moved by the end means the
        # reads may be torn; fall back to the full load (which re-stats
        # and retries on torn base/log pairs) instead of answering.
        before = {t: self._table_token(t) for t in tables}
        import pyarrow.parquet as pq

        class _Miss(KeyError):
            """Deliberate not-found (stays a KeyError for callers);
            any OTHER exception — old layouts missing columns, a
            compaction racing the read — falls back to the full load
            instead of masquerading as a missing source."""

        try:
            nt = pq.read_table(
                self._path("sourcenames"), filters=[("name", "=", name)]
            )
            if nt.num_rows == 0:
                raise _Miss(f"no source named {name!r}")
            sn_ix = int(nt["ix"][0].as_py())
            st = pq.read_table(
                self._path("sources"),
                filters=[("sourcename_ix", "=", sn_ix)],
            ).to_pandas()
            mine = _visible(st)
            if not len(mine):
                raise _Miss(f"no committed version of {name!r}")
            if version is None:
                version = int(mine["version"].max())
            row = mine[mine["version"] == version]
            if not len(row):
                raise _Miss(f"no version {version} of {name!r}")
            ix = int(row.iloc[0]["ix"])
            ct = pq.read_table(
                self._path("sourcecolumns"),
                filters=[("source_ix", "=", ix)],
            ).to_pandas()
            tt = pq.read_table(
                self._path("tags"), filters=[("source_ix", "=", ix)]
            )
            info = self._info_prefetched(
                row.iloc[0],
                name,
                [
                    (r["column_name"], r["header"], r["type"])
                    for _, r in ct.iterrows()
                ],
                sorted(tt["tag"].to_pylist()),
            )
        except _Miss:
            if any(self._table_token(t) != before[t] for t in tables):
                return None  # torn snapshot — the miss may be spurious
            raise
        except Exception:
            return None  # layout/read surprise → normal full-load path
        if any(self._table_token(t) != before[t] for t in tables):
            return None  # a writer moved a base mid-read; don't trust it
        self._point_reads += 1
        return info

    def get_source(self, name: str, version: int | None = None) -> SourceInfo:
        cold = self._cold_point_read(name, version)
        if cold is not None:
            return cold
        names = self.load("sourcenames")
        hit = names[names["name"] == name]
        if not len(hit):
            raise KeyError(f"no source named {name!r}")
        sn_ix = int(hit.iloc[0]["ix"])
        sources = self.load("sources")
        # pending rows (in-flight or crashed ingests) are invisible
        mine = _visible(sources[sources["sourcename_ix"] == sn_ix])
        if not len(mine):
            raise KeyError(f"no committed version of {name!r}")
        if version is None:
            version = int(mine["version"].max())
        row = mine[mine["version"] == version]
        if not len(row):
            raise KeyError(f"no version {version} of {name!r}")
        return self._info(row.iloc[0], name)

    def get_source_by_ix(self, ix: int) -> SourceInfo:
        sources = self.load("sources")
        row = sources[sources["ix"] == ix]
        if not len(row):
            raise KeyError(f"no source ix={ix}")
        names = self.load("sourcenames")
        name = names[names["ix"] == row.iloc[0]["sourcename_ix"]].iloc[0]["name"]
        return self._info(row.iloc[0], name)

    def dataset_creator(self, name: str) -> str | None:
        """The user who created the dataset (sourcename row) — the
        ownership anchor that survives deletion of early versions.
        Falls back to the earliest surviving version's uploader for
        rows migrated from layouts without created_by."""
        names = self.load("sourcenames")
        hit = names[names["name"] == name]
        if not len(hit):
            return None
        created_by = hit.iloc[0].get("created_by")
        if isinstance(created_by, str) and created_by:
            return created_by
        vs = self.versions(name)
        if vs:
            return self.get_source(name, vs[0]).added_by
        return None

    def versions(self, name: str) -> list[int]:
        names = self.load("sourcenames")
        hit = names[names["name"] == name]
        if not len(hit):
            return []
        sources = self.load("sources")
        mine = _visible(sources[sources["sourcename_ix"] == int(hit.iloc[0]["ix"])])
        return sorted(int(v) for v in mine["version"])

    def _bulk_info_maps(self) -> "tuple[dict, dict]":
        """(cols_by_ix, tags_by_ix): one grouping pass over the
        sourcecolumns/tags frames — the shared prefetch behind
        all_infos and big search pages."""
        # zip over materialized column arrays, not iterrows: iterrows
        # builds one Series per row (~70 µs each) and was the dominant
        # cost of a 100k-catalog dump (CATALOG_SCALE_r10 first cut:
        # 13.3 s, ~threefold iterrows); the zip form is a plain tuple
        # walk over python lists
        sc = self.load("sourcecolumns")
        cols_by_ix: dict[int, list] = {}
        for six, cn, hd, tp in zip(
            sc["source_ix"].tolist(),
            sc["column_name"].tolist(),
            sc["header"].tolist(),
            sc["type"].tolist(),
        ):
            cols_by_ix.setdefault(int(six), []).append((cn, hd, tp))
        tags = self.load("tags")
        tags_by_ix: dict[int, list] = {}
        for six, tg in zip(
            tags["source_ix"].tolist(), tags["tag"].tolist()
        ):
            tags_by_ix.setdefault(int(six), []).append(tg)
        return cols_by_ix, tags_by_ix

    def all_infos(self) -> list[SourceInfo]:
        """Every committed version as SourceInfo, built in BULK: one
        pass over sourcecolumns/tags grouped by source_ix instead of a
        per-ix frame filter. The per-row path costs O(N) per source —
        O(N²) for a whole-catalog dump, measured 16.9 s at 10k versions
        (CATALOG_SCALE_r8); this path is linear."""
        sources = _visible(self.load("sources"))
        names = self.load("sourcenames")
        name_by_ix = dict(zip(names["ix"], names["name"]))
        cols_by_ix, tags_by_ix = self._bulk_info_maps()
        # to_dict("records") not iterrows — same keys, ~50× cheaper
        return [
            self._info_prefetched(
                row,
                name_by_ix[int(row["sourcename_ix"])],
                cols_by_ix.get(int(row["ix"]), []),
                sorted(tags_by_ix.get(int(row["ix"]), [])),
            )
            for row in sources.to_dict("records")
        ]

    def iter_infos_sorted(self) -> "Iterator[SourceInfo]":
        """Lazily yield every committed version in (name, version)
        order — the dump_db_info contract. All O(n) prep is vectorized
        pandas (merge + sort + the bulk grouping maps); the per-source
        SourceInfo build is paid AT yield time, so a streaming consumer
        sees its first block after the sort, not after n dataclass
        constructions (round-10 verdict #5 done-criterion: first-byte
        latency at 100k sources dropped 13.3 s → the vectorized-prep
        cost)."""
        import numpy as np

        merged = self._merged_visible()
        idx = self._read_index()
        # the permutation is cached per epoch (Arrow two-key sort, no
        # sorted frame copy), and side-table lookups are batched per
        # chunk instead of the O(catalog) upfront grouping dicts —
        # at 1M sources those dicts were ~2.8 s of first-byte latency
        # for a consumer that may only read the first page (round-11
        # verdict #4). Aggregate work stays linear: each chunk is a
        # numpy fancy-gather over column VIEWS (the per-block pandas
        # iloc gathers of the rejected round-11 experiment were the
        # 30-40% full-wall regression; numpy views have none of that
        # constant).
        perm = idx.order_multi((("__name", True), ("version", True)))
        col_names = list(merged.columns)
        arrs = [merged[c].to_numpy() for c in col_names]
        ix_arr = merged["ix"].to_numpy()
        sc_lookup = self._read_index().group_lookup(
            "sourcecolumns",
            self.load("sourcecolumns"),
            "source_ix",
            ("column_name", "header", "type"),
        )
        tag_lookup = self._read_index().group_lookup(
            "tags", self.load("tags"), "source_ix", ("tag",)
        )
        CHUNK = 16384
        for start in range(0, len(perm), CHUNK):
            cperm = perm[start : start + CHUNK]
            chunk_vals = [a[cperm].tolist() for a in arrs]
            chunk_ixs = ix_arr[cperm]
            cols_by_ix = sc_lookup(chunk_ixs)
            tags_by_ix = tag_lookup(chunk_ixs)
            for vals in zip(*chunk_vals):
                row = dict(zip(col_names, vals))
                ix = int(row["ix"])
                yield self._info_prefetched(
                    row,
                    row["__name"],
                    cols_by_ix.get(ix, []),
                    sorted(tags_by_ix.get(ix, [])),
                )

    def _info(self, row, name: str) -> SourceInfo:
        ix = int(row["ix"])
        tags = self.load("tags")
        sc = self.load("sourcecolumns")
        mine = sc[sc["source_ix"] == ix]
        return self._info_prefetched(
            row,
            name,
            [
                (r["column_name"], r["header"], r["type"])
                for _, r in mine.iterrows()
            ],
            sorted(tags[tags["source_ix"] == ix]["tag"].tolist()),
        )

    def _info_prefetched(
        self, row, name: str, columns: list, tag_list: "list[str]"
    ) -> SourceInfo:
        ix = int(row["ix"])
        return SourceInfo(
            ix=ix,
            name=name,
            version=int(row["version"]),
            url=row["url"] if pd.notna(row["url"]) else None,
            description=row["description"],
            created=row["created"],
            added_by=row["added_by"],
            table_name=row["table_name"],
            view_name=row["view_name"],
            typed_table_name=row["typed_table_name"]
            if pd.notna(row["typed_table_name"])
            else None,
            typed_view_name=row["typed_view_name"]
            if pd.notna(row["typed_view_name"])
            else None,
            deprecated=bool(row["deprecated"]),
            row_count=int(row["row_count"]),
            format=row["format"],
            json_type=row["json_type"] if pd.notna(row["json_type"]) else None,
            tags=list(tag_list),
            columns=list(columns),
        )

    # -- delete (A27) --------------------------------------------------------

    def delete_source(self, ix: int) -> None:
        """Remove version rows; drop the name when its last version goes
        (state returns to pre-ingest — the reference's delete golden test,
        `runtests.sh:120-157`).

        Round-10 verdict #3: deletes are WAL ``del`` ops (the op kind
        existed since the WAL landed, `_apply_live`/`_replay_ops` handle
        it), not O(n) full-table rewrites — at 10k sources the old
        ``save`` path cost 100-310 ms per delete. Materialization is
        DEFERRED (``_pending_del_mask``): this method's own lookups
        consult the pending mask instead of forcing a flush, so a burst
        of k deletes costs k fsyncs + O(n) numpy boolean work and ONE
        filtered frame copy per table at the next read — measured
        86 ms → ~5 ms per delete at 100k sources."""
        import numpy as np

        sources, pm, stail = self.peek("sources")
        sn_ix = None
        if len(sources):
            hit = sources["ix"].to_numpy() == ix
            if pm is not None:
                hit &= ~pm
            if hit.any():
                sn_ix = int(
                    sources["sourcename_ix"].to_numpy()[np.argmax(hit)]
                )
        if sn_ix is None:
            t_hit = next((r for r in stail if r.get("ix") == ix), None)
            if t_hit is None:
                raise KeyError(f"no source ix={ix}")
            sn_ix = int(t_hit["sourcename_ix"])
        self._log_op("sources", {"op": "del", "where": {"ix": int(ix)}})
        self._log_op(
            "sourcecolumns", {"op": "del", "where": {"source_ix": int(ix)}}
        )
        self._log_op("tags", {"op": "del", "where": {"source_ix": int(ix)}})
        sources, pm, stail = self.peek("sources")
        remaining = False
        if len(sources):
            alive = sources["sourcename_ix"].to_numpy() == sn_ix
            if pm is not None:
                alive &= ~pm
            remaining = bool(alive.any())
        if not remaining:
            remaining = any(
                r.get("sourcename_ix") == sn_ix for r in stail
            )
        if not remaining:
            self._log_op(
                "sourcenames", {"op": "del", "where": {"ix": int(sn_ix)}}
            )

    def _merged_visible(self) -> pd.DataFrame:
        """Visible sources merged with their names (``__name`` column),
        memoized until any catalog mutation or refresh. Callers must
        treat the frame as read-only (search/iter paths only filter and
        slice, never mutate)."""
        sources_raw = self.load("sources")
        names = self.load("sourcenames")
        key = (self.mutation_count, id(sources_raw), id(names))
        if self._merged_cache is not None and self._merged_cache[0] == key:
            return self._merged_cache[1]
        merged = _visible(sources_raw).merge(
            names.rename(columns={"ix": "sourcename_ix", "name": "__name"}),
            on="sourcename_ix",
        )
        merged.index = pd.RangeIndex(len(merged))
        self._merged_cache = (key, merged, (sources_raw, names), _ReadIndex(merged))
        return merged

    def _read_index(self) -> "_ReadIndex":
        """The read accelerators bound to the current merge epoch."""
        self._merged_visible()
        return self._merged_cache[3]

    # -- search (A18, A20) ---------------------------------------------------

    def search(
        self,
        *,
        ix: int | None = None,
        name_contains: str | None = None,
        description_contains: str | None = None,
        created_after: str | None = None,
        created_before: str | None = None,
        tags_all: list[str] | None = None,
        columns_all: list[str] | None = None,
        added_by_contains: str | None = None,
        added_by_any: list[str] | None = None,
        include_deprecated: bool = True,
        ts_query: str | None = None,
        order_by: str | None = None,
        ascending: bool = True,
        offset: int = 0,
        limit: int | None = None,
    ) -> tuple[list[SourceInfo], int]:
        """SourcesSpec filters → (page, total_count)
        (`src/backend/src/Lagoon/DB/SourceInfo.hs:214-331`; count drops
        sort/offset/limit like `flattenCountQuery`).

        Every filter is a cached/Arrow-backed numpy bitmap from the
        epoch's :class:`_ReadIndex` — no pandas full-frame scans, no
        mutation of the shared memo frame (round-10 verdict #2 +
        advice): the page materializes at the very end as one
        ``iloc`` gather of ≤ limit rows."""
        import numpy as np

        merged = self._merged_visible()
        idx = self._read_index()
        n = len(merged)
        mask = np.ones(n, dtype=bool)
        if ix is not None:
            m = np.zeros(n, dtype=bool)
            p = idx.pos_by_ix().get(int(ix))
            if p is not None:
                m[p] = True
            mask &= m
        if name_contains:
            mask &= idx.contains_mask("__name", name_contains)
        if description_contains:
            mask &= idx.contains_mask("description", description_contains)
        if added_by_contains:
            mask &= idx.contains_mask("added_by", added_by_contains)
        if added_by_any:
            # any-of across several uploaders (the /sources ?user=
            # repeatable param) — substring per user, OR-combined
            m = np.zeros(n, dtype=bool)
            for u in added_by_any:
                m |= idx.contains_mask("added_by", u)
            mask &= m
        if created_after:
            mask &= idx.cmp_mask("created", ">=", created_after)
        if created_before:
            mask &= idx.cmp_mask("created", "<=", created_before)
        if not include_deprecated:
            mask &= ~idx.bool_col("deprecated")
        if tags_all:
            tags = self.load("tags")
            for t in tags_all:
                mask &= idx.membership_mask(
                    "tags", tags, "tag", "source_ix", t
                )
        if columns_all:
            sc = self.load("sourcecolumns")
            for c in columns_all:
                mask &= idx.membership_mask(
                    "sourcecolumns", sc, "header", "source_ix", c
                )
        if ts_query:
            from lagoon_spark.search import parse

            q = parse(ts_query)
            if q is not None:  # empty/error-only query matches all
                mask &= idx.ts_mask(
                    q, self.load("tags"), self.load("sourcecolumns")
                )
        total = int(mask.sum())
        if order_by:
            col = {"name": "__name", "created": "created", "ix": "ix"}.get(
                order_by, order_by
            )
            order = idx.order(col, ascending)
            pos = order[mask[order]]
        else:
            pos = np.flatnonzero(mask)
        page_pos = pos[offset : offset + limit if limit is not None else None]
        page = merged.iloc[page_pos]
        # page-targeted prefetch: ONE isin pass over sourcecolumns/tags
        # for the whole page. The old ≤20-row branch refiltered the
        # full frames per row — O(page × catalog), ~2-3 ms/row at a
        # 100k catalog, i.e. most of a limit-20 search's warm cost.
        rows = page.to_dict("records")
        page_ixs = [int(r["ix"]) for r in rows]
        cols_by_ix: "dict[int, list]" = {}
        tags_by_ix: "dict[int, list]" = {}
        if page_ixs:
            sc = self.load("sourcecolumns")
            mine = sc[sc["source_ix"].isin(page_ixs)]
            for six, cn, hd, tp in zip(
                mine["source_ix"].tolist(),
                mine["column_name"].tolist(),
                mine["header"].tolist(),
                mine["type"].tolist(),
            ):
                cols_by_ix.setdefault(int(six), []).append((cn, hd, tp))
            tg = self.load("tags")
            tmine = tg[tg["source_ix"].isin(page_ixs)]
            for six, t in zip(
                tmine["source_ix"].tolist(), tmine["tag"].tolist()
            ):
                tags_by_ix.setdefault(int(six), []).append(t)
        infos = [
            self._info_prefetched(
                r,
                r["__name"],
                cols_by_ix.get(int(r["ix"]), []),
                sorted(tags_by_ix.get(int(r["ix"]), [])),
            )
            for r in rows
        ]
        return infos, total
