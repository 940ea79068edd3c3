"""One load path per file format: a one-shot ingest is the first batch
of an append.

``Lagoon.ingest`` and streaming append both turn files into tables
through the loaders of ``lagoon_spark/ingest/load.py``. The same input
must therefore land identically whether it is ingested once, appended
as one batch, or appended as two: the same untyped rows, typed rows,
catalog columns and row count. And neither caller may start more
Spark jobs than a one-shot ingest did before the two paths were one.
"""

from __future__ import annotations

import base64
import datetime
import json
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_ROWS = [
    ("José", "München", 1),
    ("Zoë", "Zürich", 2),
    ("Ångström", "Malmö", 3),
    ("Renée", "Besançon", 40),
]


def _parquet_file(path, rows) -> None:
    pq.write_table(
        pa.table(
            {
                "id": pa.array([n for _a, _b, n in rows], type=pa.int64()),
                "blob": pa.array(
                    [b"\x00\xff" + a.encode() for a, _b, _n in rows], type=pa.binary()
                ),
                "nums": pa.array(
                    [[n, n + 1] for _a, _b, n in rows], type=pa.list_(pa.int32())
                ),
            }
        ),
        str(path),
    )


def _latin1_file(path, rows) -> None:
    body = "".join(f"{a},{b},{n}\n" for a, b, n in rows)
    path.write_bytes(("name,city,n\n" + body).encode("latin-1"))


def _multiline_json_file(path, rows) -> None:
    path.write_text(
        "\n".join(
            json.dumps({"name": a, "city": b, "n": n}, indent=2) for a, b, n in rows
        )
        + "\n"
    )


_WRITERS = {
    "parquet": (".parquet", _parquet_file),
    "latin1": (".csv", _latin1_file),
    "json": (".json", _multiline_json_file),
}


def _append(lagoon, tmp_path, name: str, files) -> object:
    """Append ``files`` to a new stream source, one batch each."""
    ing = lagoon.ingest_stream(
        str(tmp_path), name, checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        mode="append",
    )
    for i, f in enumerate(files):
        ing._batch_append([(str(f), datetime.datetime.now())], batch_id=i)
    return lagoon.catalog.get_source(name, 1)


def _snapshot(lagoon, info) -> tuple:
    def rows(typed: bool) -> list:
        df = lagoon.dataframe(info, typed=typed)
        return [tuple(r) for r in df.orderBy("ix").collect()]

    return (
        rows(False),
        rows(True) if info.typed_table_name else None,
        [tuple(c) for c in info.columns],
        info.row_count,
        info.json_type,
    )


@pytest.mark.parametrize("kind", sorted(_WRITERS))
def test_oneshot_and_appends_load_identically(lagoon, tmp_path, kind):
    """A parquet file with binary and list<int> columns, a Latin-1 CSV
    and a multi-line JSON file each land identically through a one-shot
    ingest, a one-batch append and a two-batch append."""
    suffix, write = _WRITERS[kind]
    whole = tmp_path / f"whole{suffix}"
    write(whole, _ROWS)
    halves = [tmp_path / f"half{i}{suffix}" for i in range(2)]
    write(halves[0], _ROWS[:2])
    write(halves[1], _ROWS[2:])

    oneshot = _snapshot(lagoon, lagoon.ingest(str(whole), "oneshot"))
    one_batch = _snapshot(lagoon, _append(lagoon, tmp_path, "one_batch", [whole]))
    two_batches = _snapshot(lagoon, _append(lagoon, tmp_path, "two_batches", halves))

    assert oneshot[3] == len(_ROWS)
    assert one_batch == oneshot
    assert two_batches == oneshot
    if kind == "parquet":
        untyped = oneshot[0]
        blob = base64.b64encode(b"\x00\xff" + "José".encode()).decode()
        assert untyped[0][2:] == (blob, "[1,2]")
    elif kind == "latin1":
        assert [r[1:3] for r in oneshot[0]][:2] == [
            ("José", "München"),
            ("Zoë", "Zürich"),
        ]


def _job_count(spark, fn) -> int:
    """Spark jobs ``fn`` starts, read from the status tracker under a
    job group of their own."""
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _budget_input(path, fmt: str, n: int = 600) -> None:
    if fmt == "csv":
        path.write_text(
            "k,word,score\n" + "".join(f"{i},w{i % 17},{i / 4}\n" for i in range(n))
        )
    elif fmt == "jsonl":
        path.write_text(
            "".join(json.dumps({"k": i, "w": f"w{i}"}) + "\n" for i in range(n))
        )
    else:
        pq.write_table(
            pa.table(
                {
                    "k": list(range(n)),
                    "word": [f"w{i % 17}" for i in range(n)],
                    "score": [i / 4 for i in range(n)],
                }
            ),
            str(path),
        )


#: Spark jobs of a one-shot ingest of the 600-row inputs above, measured
#: on the commit before the loaders were shared (the first append batch
#: then started 11, 5 and 7 jobs).
_ONESHOT_JOBS_BEFORE = {"csv": 9, "jsonl": 4, "parquet": 5}


@pytest.mark.parametrize("fmt", sorted(_ONESHOT_JOBS_BEFORE))
def test_ingest_job_budget(lagoon, tmp_path, fmt):
    """A one-shot ingest and the first append batch of the same file
    each start no more Spark jobs than a one-shot ingest did before."""
    src = tmp_path / f"in.{fmt}"
    _budget_input(src, fmt)
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    batch = inbox / src.name
    batch.write_bytes(src.read_bytes())
    spark = lagoon.spark

    oneshot = _job_count(spark, lambda: lagoon.ingest(str(src), "budget"))
    first_batch = _job_count(
        spark, lambda: _append(lagoon, inbox, "budget_stream", [batch])
    )
    assert oneshot <= _ONESHOT_JOBS_BEFORE[fmt], oneshot
    assert first_batch <= _ONESHOT_JOBS_BEFORE[fmt], first_batch
