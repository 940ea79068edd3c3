"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The ingest and corpus generators return, next to the files
they wrote, the expectations the benchmark checks the engine's outputs
against, computed here in plain Python from the generated values — never
by asking the engine. The SQL tables are checked against DuckDB instead.

Values are chosen so that checks can be exact:

* money-like doubles are multiples of 1/4 (discounts multiples of 1/64),
  so every sum and product is exactly representable and the result does
  not depend on the order in which an engine adds;
* dates are ``YYYY-MM-DD`` strings, compared lexicographically by both
  engines;
* near-duplicate documents have exactly the word set of their cluster's
  base document (extra spaces, repeated words), so MinHash signatures
  match exactly and LSH recall of the planted clusters is 1.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# ingest_mix: CSV / TSV / JSONL files, half of them new versions
# ---------------------------------------------------------------------------

SMALL_ROWS = 2_000
LARGE_ROWS = 30_000
N_SMALL = 12
N_LARGE = 4
SMALL_NAMES = 6  # 12 small files over 6 names: every name gets 2 versions
LARGE_NAMES = 2  # 4 large files over 2 names


@dataclass
class IngestFile:
    path: str
    name: str
    fmt: str  # csv | tsv | jsonl
    rows: int
    size: int
    large: bool
    # tabular: friendly column -> inferred lattice type
    types: dict = field(default_factory=dict)
    # aggregates the verifying query must return (n_opt: non-null
    # ``opt`` cells, or non-null ``note`` values in a JSONL file)
    sum_qty: int = 0
    sum_amount: float = 0.0
    n_opt: int = 0
    # JSON sources only: the rendered JsonType of the whole file
    json_type: str | None = None


def _note(rnd: random.Random, delim: str) -> str:
    """A free-text cell; every tenth one carries the delimiter or a
    doubled quote, so the quote-aware scan path runs. Embedded newlines
    are left out: the tabular ingest documents them as unsupported
    (line-based scan, ``lagoon_spark/ingest/csv.py``)."""
    words = " ".join(rnd.choice(_NOTE_WORDS) for _ in range(rnd.randint(1, 4)))
    k = rnd.randrange(10)
    if k == 0:
        return f'"{words}{delim} {words}"'
    if k == 1:
        return f'"say ""{words}"""'
    return words


_NOTE_WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
)


# ``qty`` widens INTEGER→BIGINT and ``amount`` INTEGER→DOUBLE only in a
# file's last three rows, so inference must scan the whole file; ``opt``
# has empty cells (NULLs)
TABULAR_TYPES = {
    "id": "INTEGER",
    "qty": "BIGINT",
    "amount": "DOUBLE PRECISION",
    "note": "TEXT",
    "opt": "INTEGER",
}


def _write_tabular(path: str, rnd: random.Random, n: int, delim: str) -> IngestFile:
    f = IngestFile(path, "", "tsv" if delim == "\t" else "csv", n, 0, False, TABULAR_TYPES)
    with open(path, "w", encoding="utf-8", newline="") as out:
        out.write(delim.join(TABULAR_TYPES) + "\n")
        for i in range(1, n + 1):
            if i > n - 3:
                qty = 3_000_000_000 + rnd.randrange(10**6)
                amount = (2 * rnd.randrange(2, 200_000) + 1) / 4  # never whole
            else:
                qty = rnd.randrange(2, 100_000)
                amount = rnd.randrange(2, 100_000)
            opt = "" if rnd.random() < 0.3 else str(rnd.randrange(2, 1000))
            out.write(delim.join([str(i), str(qty), str(amount), _note(rnd, delim), opt]) + "\n")
            f.sum_qty += qty
            f.sum_amount += amount
            f.n_opt += opt != ""
    f.size = os.path.getsize(path)
    return f


def _write_jsonl(path: str, rnd: random.Random, n: int) -> IngestFile:
    f = IngestFile(path, "", "jsonl", n, 0, False)
    nullable_note = False
    with open(path, "w", encoding="utf-8") as out:
        for i in range(1, n + 1):
            qty = rnd.randrange(2, 100_000)
            amount = rnd.randrange(4, 400_000) / 4
            note = None if rnd.random() < 0.2 else rnd.choice(_NOTE_WORDS)
            nullable_note |= note is None
            out.write(
                json.dumps({"id": i, "qty": qty, "amount": amount, "note": note})
                + "\n"
            )
            f.sum_qty += qty
            f.sum_amount += amount
            f.n_opt += note is not None
    f.json_type = (
        '{"amount":number, "id":number, "note":'
        + ("nullable string" if nullable_note else "string")
        + ', "qty":number}'
    )
    f.size = os.path.getsize(path)
    return f


def ingest_mix_files(seed: int, out_dir: str) -> list[IngestFile]:
    """The run's ingest plan: 12 small and 4 large files in groups of
    one small CSV, TSV and JSONL file each, then a large CSV or TSV
    file. The seed draws the values, not the shape, so runs with
    different seeds do the same amount of work. Names repeat, so half
    of the ingests add a new version to an existing name."""
    rnd = random.Random(f"ingest_mix:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    plan: list[IngestFile] = []
    for k in range(N_SMALL + N_LARGE):
        large = k % 4 == 3
        j = k // 4
        name = f"large{j % LARGE_NAMES}" if large else f"small{(k - j) % SMALL_NAMES}"
        fmt = ("csv", "tsv")[j % 2] if large else ("csv", "tsv", "jsonl")[k % 4]
        n = LARGE_ROWS if large else SMALL_ROWS
        path = os.path.join(out_dir, f"f{k:02d}_{name}.{fmt}")
        if fmt == "jsonl":
            f = _write_jsonl(path, rnd, n)
        else:
            f = _write_tabular(path, rnd, n, "\t" if fmt == "tsv" else ",")
        f.name, f.large = name, large
        plan.append(f)
    return plan


# ---------------------------------------------------------------------------
# sql_serve: TPC-H-shaped parquet tables plus an events table
# ---------------------------------------------------------------------------

SQL_SIZES = {"customer": 1_500, "orders": 15_000, "lineitem": 60_000, "events": 30_000}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_KINDS = ("click", "view", "buy", "share")


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64("1993-01-01")
    return (base + rng.integers(0, 2400, n).astype("timedelta64[D]")).astype(str)


def sql_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write the four tables as parquet; returns table -> path. Table
    metadata (description, tags) for the catalog search checks is in
    :data:`SQL_META`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    nc, no, nl, ne = (SQL_SIZES[t] for t in ("customer", "orders", "lineitem", "events"))
    tables = {
        "customer": {
            "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int64),
            "c_acctbal": rng.integers(-4000, 400_000, nc) / 4,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)],
        },
        "orders": {
            "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, nc + 1, no, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": rng.integers(4000, 2_000_000, no) / 4,
            "o_orderdate": _dates(rng, no),
        },
        "lineitem": {
            "l_orderkey": np.sort(rng.integers(1, no + 1, nl)).astype(np.int64),
            "l_linenumber": np.zeros(nl, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, nl, dtype=np.int64),
            "l_extendedprice": rng.integers(400, 400_000, nl) / 4,
            "l_discount": rng.integers(0, 7, nl) / 64,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_shipdate": _dates(rng, nl),
        },
        "events": {
            "ev_id": np.arange(1, ne + 1, dtype=np.int64),
            "user_id": rng.integers(1, 2001, ne, dtype=np.int64),
            "ts": _dates(rng, ne),
            "kind": np.array(EVENT_KINDS)[rng.integers(0, len(EVENT_KINDS), ne)],
            "value": rng.integers(0, 40_000, ne) / 4,
        },
    }
    ok = tables["lineitem"]["l_orderkey"]
    starts = np.r_[0, np.flatnonzero(np.diff(ok)) + 1]
    lengths = np.diff(np.r_[starts, nl])
    tables["lineitem"]["l_linenumber"] = (
        np.arange(nl) - np.repeat(starts, lengths) + 1
    ).astype(np.int64)
    paths = {}
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        paths[name] = path
    return paths


SQL_META = {
    "customer": ("customer accounts and market segments", ["tpch", "dimension"]),
    "orders": ("customer orders with status and price", ["tpch", "fact"]),
    "lineitem": ("order line items with quantities and discounts", ["tpch", "fact"]),
    "events": ("user activity events stream", ["clickstream", "fact"]),
}


# ---------------------------------------------------------------------------
# llm_pipeline: prose corpus with planted junk, near-dups and neighbours
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + [
    c + v + e for c in "bdgkmprst" for v in "aeiou" for e in "nrs"
]
VOCAB_SIZE = 20_000
DIM = 64
N_CENTERS = 32
N_QUERIES = 64


@dataclass
class Corpus:
    path: str
    rows: int
    n_clean: int  # rows clean_source keeps
    n_clusters: int  # rows dedup_source keeps (one per cluster)
    cluster_of: list  # doc row (0-based file order) -> cluster id, -1 for junk
    vectors: np.ndarray  # (rows, DIM) float64, as written
    queries: np.ndarray  # (N_QUERIES, DIM)


def _vocabulary(rnd: random.Random) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rnd.choice(_SYLLABLES) for _ in range(rnd.randint(2, 4)))
        if 3 <= len(w) <= 10 and w not in STOPWORDS and "lorem" not in w:
            words.add(w)
    return sorted(words)


def _sentence(rnd: random.Random, vocab: list[str], stop: list[str]) -> list[str]:
    n = rnd.randint(8, 14)
    words = [rnd.choice(vocab) for _ in range(n)]
    words.insert(rnd.randrange(1, n), rnd.choice(stop))
    words[0] = words[0].capitalize()
    return words


def _document(rnd: random.Random, vocab: list[str]) -> list[list[str]]:
    """4-7 sentences, one per line. Each document draws its stopwords
    from its own pair of the eight, so unrelated documents share almost
    no tokens and MinHash-LSH cannot merge two planted clusters."""
    stop = rnd.sample(STOPWORDS, 2)
    return [_sentence(rnd, vocab, stop) for _ in range(rnd.randint(4, 7))]


def _render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ws) + "." for ws in lines)


def _near_dup(rnd: random.Random, lines: list[list[str]]) -> str:
    """Same word set, different bytes: doubled spaces and repeated
    in-line words (a repeated word makes the copy longer, so it wins the
    default token-count survivor policy)."""
    out = []
    for ws in lines:
        ws = list(ws)
        for _ in range(rnd.randint(0, 2)):
            # never the last word: it carries the line's full stop
            p = rnd.randrange(len(ws) - 1)
            ws.insert(p, ws[p])
        sep = "  " if rnd.random() < 0.5 else " "
        out.append(sep.join(ws) + ".")
    return "\n".join(out)


def _junk(rnd: random.Random, vocab: list[str], kind: int) -> str:
    """Documents the default ``clean_source`` (C4 then Gopher) must drop."""
    doc = _document(rnd, vocab)
    if kind == 0:  # C4 page marker
        doc[1][2:2] = ["lorem", "ipsum"]
        return _render(doc)
    if kind == 1:  # C4 page marker: a curly brace
        return _render(doc) + "\nvar x = {a: 1}."
    if kind == 2:  # fewer than three sentences survive the line rules
        return _render(doc[:2]) + "\n" + " ".join(doc[2][:3])
    if kind == 3:  # Gopher: fewer than two stopwords
        return "\n".join(
            " ".join(w for w in ws if w.lower() not in STOPWORDS) + "." for ws in doc
        )
    # Gopher: symbol-to-word ratio above 0.1
    return "\n".join(" ".join(ws) + " ### ##." for ws in doc)


def corpus(seed: int, out_dir: str, n_base: int) -> Corpus:
    """``n_base`` clean base documents; a quarter get 1–3
    near-duplicate copies; junk rows are 12% of the base count. Each row
    carries a 64-d vector drawn around one of 32 centres, and 64 query
    vectors are planted next to random surviving documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(f"corpus:{seed}")
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rnd)
    centers = rng.normal(size=(N_CENTERS, DIM))
    rows: list[tuple[str, str, int]] = []  # (doc_id, text, cluster)
    for c in range(n_base):
        lines = _document(rnd, vocab)
        rows.append((f"c{c:05d}-0", _render(lines), c))
        # every fourth base document gets 1, 2 or 3 copies in turn: the
        # row count does not depend on the seed, so neither does the work
        if c % 4 == 0:
            for v in range(1, 2 + c // 4 % 3):
                rows.append((f"c{c:05d}-{v}", _near_dup(rnd, lines), c))
    n_junk = n_base * 12 // 100
    for j in range(n_junk):
        rows.append((f"j{j:05d}", _junk(rnd, vocab, j % 5), -1))
    rnd.shuffle(rows)
    base_vec = centers[rng.integers(0, N_CENTERS, n_base + n_junk)] + rng.normal(
        scale=0.35, size=(n_base + n_junk, DIM)
    )
    vecs = np.empty((len(rows), DIM))
    for i, (doc_id, _t, c) in enumerate(rows):
        key = c if c >= 0 else n_base + int(doc_id[1:])
        vecs[i] = base_vec[key] + (rng.normal(scale=0.01, size=DIM) if c >= 0 else 0)
    vecs = np.round(vecs, 6)
    targets = rng.choice(n_base, N_QUERIES, replace=n_base < N_QUERIES)
    queries = np.round(base_vec[targets] + rng.normal(scale=0.05, size=(N_QUERIES, DIM)), 6)
    path = os.path.join(out_dir, "corpus.parquet")
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "vec": [json.dumps(v.tolist()) for v in vecs],
            }
        ),
        path,
    )
    return Corpus(
        path=path,
        rows=len(rows),
        n_clean=len(rows) - n_junk,
        n_clusters=n_base,
        cluster_of=[r[2] for r in rows],
        vectors=vecs,
        queries=queries,
    )
