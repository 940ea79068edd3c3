"""Command-line interface — the reference's primary UX.

The reference's entire integration harness drives a ``lagoon``
executable (`clients/cmdline/src/Lagoon/Client/Cmdline.hs:355-521`;
`clients/cmdline/test-cases/runtests.sh` is nothing but CLI calls piped
into golden diffs). This module reproduces that command surface over
the Spark engine as ``python -m lagoon_spark``:

    ingest, list-sources, show-source, delete-source, make-typed,
    set-type, tag, untag, infer-json-type, manage, create-group,
    manage-group, manage-user, download, compact, sql, dump-db-info,
    init-db, migrate, vacuum

Differences from the reference, by design:

* no server: the warehouse directory (``--warehouse`` /
  ``$LAGOON_WAREHOUSE``) replaces ``--host``/``--port``; ``login``/
  ``logout``/``get-server-url`` have no meaning and are omitted.
* ``-p``/``--db-admin-pass`` are accepted for drop-in script
  compatibility but ignored — the library trusts the caller's ``-u``
  identity the way the reference's trust-auth mode does.
* a SparkSession starts lazily, only for commands that touch data;
  metadata-only commands (list/show/tag/manage/dump) run on the
  catalog alone and stay fast.
"""

from __future__ import annotations

import argparse
import os
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--warehouse",
        default=os.environ.get("LAGOON_WAREHOUSE", "lagoon-warehouse"),
        help="warehouse directory (env LAGOON_WAREHOUSE)",
    )
    p.add_argument("-u", "--user", default=os.environ.get("LAGOON_USER", "unknown"))
    p.add_argument("-p", "--password", default=None, help=argparse.SUPPRESS)
    p.add_argument("--db-admin-pass", default=None, help=argparse.SUPPRESS)
    p.add_argument(
        "--cpus",
        default=None,
        help="local[N] parallelism for data commands (env SPARK_GRAFT_CPUS)",
    )


def _source_version(p: argparse.ArgumentParser) -> None:
    p.add_argument("name", metavar="NAME")
    p.add_argument("-v", "--version", type=int, default=None)


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(
        prog="python -m lagoon_spark",
        description="Spark-backed data lagoon (CLI parity with the "
        "reference's lagoon command)",
    )
    _add_common(top)
    sub = top.add_subparsers(dest="command", required=True)

    p = sub.add_parser("init-db", help="Initialize (or reset) the warehouse")
    p.add_argument("--reset", action="store_true")

    sub.add_parser("migrate", help="Upgrade the warehouse catalog schema")

    p = sub.add_parser("ingest", help="Ingest a datasource")
    p.add_argument("-n", "--name", required=True)
    p.add_argument("input", metavar="FILE", help="input path, URL, or - for stdin")
    p.add_argument("--description", default=None)
    p.add_argument("--tag", action="append", default=[], dest="tags")
    p.add_argument("--created", default=None, help='pin creation time, e.g. "2016-10-01 12:00:00"')
    p.add_argument("--no-headers", action="store_true")
    p.add_argument("--peek-at", type=int, default=1000, metavar="NUM")
    p.add_argument("--comma", action="store_const", const=",", dest="delimiter")
    p.add_argument("--tab", action="store_const", const="\t", dest="delimiter")
    p.add_argument("--delimiter", dest="delimiter")
    p.add_argument("--no-quoting", action="store_true")
    p.add_argument("--no-type-inference", action="store_true")
    p.add_argument("--json-path", default=None)
    p.add_argument("--source-identifier", default=None)
    p.add_argument("--file-type", choices=["csv", "json", "parquet"], default=None)
    vis = p.add_mutually_exclusive_group()
    vis.add_argument("--public", action="store_true", default=None)
    vis.add_argument("--private", dest="public", action="store_false")
    p.add_argument(
        "--source-metadata-name", default=None,
        help="foreign/multi-part ingest: attach this file's rows as extra "
        "columns of an existing source",
    )
    p.add_argument("--source-metadata-field", default=None)
    p.add_argument("--log-every", type=int, default=None, help=argparse.SUPPRESS)

    p = sub.add_parser("list-sources", help="List available sources")
    p.add_argument("--tag", action="append", default=[], dest="tags")
    p.add_argument("--description", default=None)
    p.add_argument("--name", default=None, help="substring of the source name")
    p.add_argument("--user", dest="added_by", default=None)
    p.add_argument("--created-after", default=None)
    p.add_argument("--created-before", default=None)
    p.add_argument("--search", default=None, help="full-text TsQuery")
    p.add_argument("--column", action="append", default=[], dest="columns")
    p.add_argument("--order-by", default=None)
    p.add_argument("--desc", action="store_true")
    p.add_argument("--offset", type=int, default=0)
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--count", action="store_true", help="print only the total count")
    p.add_argument("--no-deprecated", action="store_true")

    _source_version(sub.add_parser("show-source", help="Show one source"))
    _source_version(sub.add_parser("delete-source", help="Delete a source (all versions without -v)"))
    _source_version(sub.add_parser("make-typed", help="Construct the typed table"))

    p = sub.add_parser("set-type", help="Override a column's inferred type")
    _source_version(p)
    p.add_argument("-c", "--column", required=True)
    p.add_argument("type", metavar="TYPE", help="BOOLEAN|INTEGER|BIGINT|DOUBLE PRECISION|TEXT|DOCUMENT|JSON")

    p = sub.add_parser("tag", help="Tag a source")
    _source_version(p)
    p.add_argument("tag_name", metavar="TAG")
    p = sub.add_parser("untag", help="Untag a source")
    _source_version(p)
    p.add_argument("tag_name", metavar="TAG")

    p = sub.add_parser("infer-json-type", help="Infer the type of a JSON file")
    p.add_argument("input", metavar="FILE")
    p.add_argument("--json-path", default=None)

    p = sub.add_parser("manage", help="Manage a dataset (permissions, deprecation)")
    _source_version(p)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--public", action="store_true")
    g.add_argument("--private", action="store_true")
    g.add_argument("--deprecated", action="store_true")
    g.add_argument("--not-deprecated", action="store_true")
    g.add_argument(
        "--set-user-access", nargs=2, metavar=("USER", "LEVEL"),
        help="LEVEL: read|update|manage|none",
    )
    g.add_argument("--set-group-access", nargs=2, metavar=("GROUP", "LEVEL"))
    p.add_argument("--public-level", default="read", choices=["read", "update", "manage"])

    p = sub.add_parser("create-group", help="Create a new group")
    p.add_argument("group", metavar="GROUP")

    p = sub.add_parser("manage-group", help="Manage group membership")
    p.add_argument("group", metavar="GROUP")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--add-user", metavar="USER")
    g.add_argument("--remove-user", metavar="USER")
    g.add_argument("--grant-manage", metavar="USER")
    g.add_argument("--revoke-manage", metavar="USER")

    p = sub.add_parser("manage-user", help="Grant/revoke global privileges")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--grant-create", metavar="USER")
    g.add_argument("--revoke-create", metavar="USER")
    g.add_argument("--grant-create-group", metavar="USER")
    g.add_argument("--revoke-create-group", metavar="USER")

    p = sub.add_parser("download", help="Download an ingested source")
    _source_version(p)
    p.add_argument("--format", choices=["csv", "json"], default=None)
    p.add_argument("-o", "--output", default=None, help="write to file instead of stdout")

    p = sub.add_parser(
        "build-ann-index",
        help="Train and persist an IVF index over an embedding column",
    )
    p.add_argument("name", metavar="NAME")
    p.add_argument("--column", required=True)
    p.add_argument("-k", type=int, default=64, dest="cells")
    p.add_argument("--iters", type=int, default=2)
    p.add_argument("--pq-m", type=int, default=None, dest="pq_m",
                   help="enable IVFADC: product-quantize residuals into M codes")
    p.add_argument("--pq-k", type=int, default=16, dest="pq_k")
    p.add_argument("--pq-iters", type=int, default=2, dest="pq_iters")
    p.add_argument("--include-columns", default=None, dest="include_columns",
                   help="comma-separated metadata columns baked into the "
                   "cell partitions for filtered (hybrid) search")

    p = sub.add_parser(
        "extend-ann-index",
        help="Incrementally index rows appended since the last "
        "build/extend (existing centroids/codebooks; no retrain)",
    )
    p.add_argument("name", metavar="NAME")
    p.add_argument("--column", required=True)

    p = sub.add_parser(
        "ann-search", help="Approximate nearest neighbors via the IVF index"
    )
    p.add_argument("name", metavar="NAME")
    p.add_argument("--column", required=True)
    p.add_argument("--vector", required=True, help='JSON array, e.g. "[0.1, 0.9]"')
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--nprobe", type=int, default=4)
    p.add_argument("--where", default=None,
                   help="row-local SQL predicate applied before the top-k "
                   "(hybrid search), e.g. \"lang = 'de'\"")
    p.add_argument("--use-pq", action="store_true",
                   help="ADC shortlist over the PQ codes (format-3 "
                   "index): dim*8/pq_m x less probe I/O, approximate "
                   "recall (rerank-factor is the recall lever)")
    p.add_argument("--rerank-factor", type=int, default=None,
                   help="ADC shortlist depth (default 16). Passing it "
                   "PINS ADC on: an unpinned --use-pq against an index "
                   "flagged pq_epsilon_margin_regime auto-downgrades "
                   "to full-precision probes")

    p = sub.add_parser(
        "dedup-source",
        help="Write a new version keeping one canonical document per "
        "near-duplicate cluster (content-level compact)",
    )
    p.add_argument("name", metavar="NAME")
    p.add_argument("--column", required=True, help="text column to cluster on")
    p.add_argument("--quality-column", default=None,
                   help="numeric column picking the survivor (default: token count)")
    p.add_argument("--min-matches", type=int, default=8)
    p.add_argument("--reindex", action="store_true",
                   help="rebuild the parent version's ANN indexes on the survivors")

    p = sub.add_parser(
        "clean-source",
        help="Write a new version keeping only rows that pass the "
        "C4/Gopher structural cleaning rules",
    )
    p.add_argument("name", metavar="NAME")
    p.add_argument("--column", required=True, help="text column to gate on")
    p.add_argument("--rules", choices=["c4", "gopher", "both"], default="both")
    p.add_argument("--min-words", type=int, default=10, dest="min_words")
    p.add_argument("--max-words", type=int, default=100_000, dest="max_words")
    p.add_argument("--reindex", action="store_true",
                   help="rebuild the parent version's ANN indexes on the survivors")

    p = sub.add_parser("compact", help="Compact all versions of a source")
    p.add_argument("name", metavar="NAME")

    p = sub.add_parser("sql", help="Run a read-only SQL query")
    p.add_argument("query", metavar="QUERY", help="SQL text, or - for stdin")
    p.add_argument(
        "--format", choices=["csv", "json", "json_array"], default="csv"
    )

    sub.add_parser("dump-db-info", help="Dump database info (golden-test oracle)")

    # engine-surface extensions beyond the reference's command set
    p = sub.add_parser("stats", help="One-pass per-column statistics (ANALYZE analog)")
    _source_version(p)

    p = sub.add_parser(
        "export-dataset",
        help="Run a query and write hive-partitioned parquet (training-shard sink)",
    )
    p.add_argument("query", metavar="QUERY")
    p.add_argument("output", metavar="DIR")
    p.add_argument("--partition-by", action="append", default=[], metavar="COL")
    p.add_argument("--sort-by", action="append", default=[], metavar="COL")
    p.add_argument("--max-records-per-file", type=int, default=None)

    p = sub.add_parser(
        "optimize-layout", help="Z-order rewrite of a live source's typed table"
    )
    _source_version(p)
    p.add_argument("-c", "--cluster-by", action="append", required=True, metavar="COL")

    p = sub.add_parser(
        "stream-ingest",
        help="Watch a directory and ingest continuously (availableNow batch)",
    )
    p.add_argument("-n", "--name", required=True)
    p.add_argument("directory", metavar="DIR")
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--mode", choices=["versions", "append"], default="versions")
    p.add_argument("--file-pattern", default=None)
    p.add_argument("--file-type", choices=["csv", "json"], default=None)
    p.add_argument("--no-headers", action="store_true")
    p.add_argument("--delimiter", default=None)

    p = sub.add_parser(
        "serve", help="Run the REST facade (the reference server's routes)"
    )
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=1866)
    p.add_argument(
        "--auth-file",
        default=None,
        help="user:password per line; enables /user/login cookie "
        "sessions and disables the X-Lagoon-User trust header",
    )
    p.add_argument(
        "--auth-ldap",
        default=None,
        metavar="URL",
        help="LDAP directory URL for simple-bind auth (needs an LDAP "
        "client library; mirrors the reference's authProviderLDAP)",
    )
    p.add_argument(
        "--auth-ldap-template",
        default="uid={{user}},ou=people,dc=example,dc=org",
        metavar="DN",
        help="bind-DN template; {{user}} is replaced with the login name",
    )

    p = sub.add_parser("vacuum", help="Remove orphaned data directories")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--temp-grace-sec", type=float, default=3600.0)

    return top


# commands that never touch row data — they run on the catalog alone,
# without paying SparkSession startup
_METADATA_ONLY = {
    "init-db", "migrate", "list-sources", "show-source", "tag", "untag",
    "manage", "create-group", "manage-group", "manage-user",
    "dump-db-info", "vacuum", "infer-json-type",
}


class _Cli:
    def __init__(self, args):
        self.args = args
        self._engine = None
        self._owns_spark = False

    @property
    def engine(self):
        if self._engine is None:
            from lagoon_spark.engine import Lagoon

            spark = None
            if self.args.command not in _METADATA_ONLY:
                from pyspark.sql import SparkSession

                from lagoon_spark.session import get_spark

                # when embedded in a host process that already runs a
                # session (tests drive main() in-process), getOrCreate
                # reuses it — then it is not ours to stop on exit
                existing = (
                    SparkSession.getActiveSession()
                    or getattr(SparkSession, "_instantiatedSession", None)
                )
                spark = get_spark("lagoon_cli", cpus=self.args.cpus)
                self._owns_spark = existing is None
            self._engine = Lagoon(
                spark, self.args.warehouse, user=self.args.user
            )
        return self._engine

    def _info(self):
        """(name, -v) → SourceInfo, default latest version."""
        return self.engine.catalog.get_source(
            self.args.name, self.args.version
        )

    # -- command bodies ------------------------------------------------------

    def cmd_init_db(self):
        self.engine.init_db(reset=self.args.reset)
        print("ok")

    def cmd_migrate(self):
        v = self.engine.catalog.migrate()
        print(f"catalog schema v{v}")

    def cmd_ingest(self):
        a = self.args
        path = a.input
        spool = None
        if path == "-":
            import tempfile

            spool = tempfile.NamedTemporaryFile("w", delete=False, encoding="utf-8")
            spool.write(sys.stdin.read())
            spool.close()
            path = spool.name
        try:
            if a.source_metadata_name:
                if not a.source_metadata_field:
                    raise SystemExit(
                        "--source-metadata-name requires --source-metadata-field"
                    )
                info = self.engine.ingest_extra_data(
                    path,
                    a.name,
                    metadata_source=a.source_metadata_name,
                    metadata_field=a.source_metadata_field,
                    created=a.created,
                )
            else:
                info = self.engine.ingest(
                    path,
                    a.name,
                    description=a.description,
                    tags=a.tags or None,
                    created=a.created,
                    has_headers=not a.no_headers,
                    delimiter=a.delimiter,
                    quote=None if a.no_quoting else '"',
                    no_type_inference=a.no_type_inference,
                    json_path=a.json_path,
                    source_identifier=a.source_identifier,
                    peek_rows=a.peek_at,
                    file_type={"csv": "tabular"}.get(a.file_type, a.file_type),
                    public=a.public,
                )
            print(_pretty(info))
        finally:
            if spool is not None and os.path.exists(spool.name):
                os.unlink(spool.name)

    def cmd_list_sources(self):
        a = self.args
        infos, total = self.engine.catalog.search(
            name_contains=a.name,
            description_contains=a.description,
            created_after=a.created_after,
            created_before=a.created_before,
            tags_all=a.tags or None,
            columns_all=a.columns or None,
            added_by_contains=a.added_by,
            include_deprecated=not a.no_deprecated,
            ts_query=a.search,
            order_by=a.order_by,
            ascending=not a.desc,
            offset=a.offset,
            limit=a.limit,
        )
        if a.count:
            print(total)
            return
        for i in infos:
            tags = f" [{', '.join(sorted(i.tags))}]" if i.tags else ""
            print(f"{i.name} (version {i.version}){tags}\t{i.row_count} rows\t{i.created}\t{i.added_by}")

    def cmd_show_source(self):
        print(_pretty(self._info()))

    def cmd_delete_source(self):
        a = self.args
        if a.version is None:
            for v in reversed(self.engine.catalog.versions(a.name)):
                self.engine.delete_source(
                    self.engine.catalog.get_source(a.name, v)
                )
            print(f"Deleted all versions of source {a.name}")
        else:
            self.engine.delete_source(self._info())
            print(f"Deleted version {a.version} of source {a.name}")

    def cmd_make_typed(self):
        info = self.engine.make_typed(self._info())
        print("Created typed table. Updated info:")
        print(_pretty(info))

    def cmd_set_type(self):
        info = self.engine.set_column_type(
            self._info(), self.args.column, self.args.type
        )
        print(f"Set type to {self.args.type}")

    def _check_update(self, info):
        from lagoon_spark import security as _sec

        if not (
            _sec.is_admin(self.args.user)
            or info.added_by == self.args.user
            or _sec.can_update(self.engine.catalog, self.args.user, info.ix)
        ):
            raise _sec.PermissionDenied(
                f"{self.args.user!r} may not modify {info.name!r}"
            )

    def cmd_tag(self):
        info = self._info()
        self._check_update(info)
        self.engine.catalog.tag(info.ix, self.args.tag_name)
        print("ok")

    def cmd_untag(self):
        info = self._info()
        self._check_update(info)
        self.engine.catalog.untag(info.ix, self.args.tag_name)
        print("ok")

    def cmd_infer_json_type(self):
        # pure driver-side inference — no warehouse, no Spark
        from lagoon_spark.ingest import jsonsplit, jsontype

        jpath = (
            jsonsplit.parse_path(self.args.json_path)
            if self.args.json_path
            else jsonsplit.HERE
        )
        import json as _json

        merged = None
        with open(self.args.input, encoding="utf-8") as f:
            for raw in jsonsplit.split_values(f, jpath):
                t = jsontype.type_of_value(_json.loads(raw))
                merged = t if merged is None else jsontype.unify(merged, t)
        print(jsontype.render(merged) if merged is not None else "(no values)")

    def _dataset_owner(self, info) -> str | None:
        """sourcenames.created_by — dataset-level ownership (the creator
        keeps manage rights across all versions)."""
        names = self.engine.catalog.load("sourcenames")
        hit = names[names["name"] == info.name]
        if len(hit) and isinstance(hit.iloc[0].get("created_by"), str):
            return hit.iloc[0]["created_by"]
        return info.added_by

    def cmd_manage(self):
        from lagoon_spark import security as _sec

        a = self.args
        info = self._info()
        cat = self.engine.catalog
        owner = self._dataset_owner(info)
        if a.public:
            _sec.set_public(
                cat, info.ix, True, level=a.public_level, actor=a.user, owner=owner
            )
            print("Set public OK")
        elif a.private:
            _sec.set_public(cat, info.ix, False, actor=a.user, owner=owner)
            print("Set private OK")
        elif a.deprecated or a.not_deprecated:
            self._check_update(info)
            cat.update_source(info.ix, deprecated=bool(a.deprecated))
            print(("Set deprecated" if a.deprecated else "Set not-deprecated") + " OK")
        else:
            subject_type = "user" if a.set_user_access else "group"
            subject, level = a.set_user_access or a.set_group_access
            if level == "none":
                _sec.revoke(
                    cat, info.ix, subject, actor=a.user,
                    subject_type=subject_type, owner=owner,
                )
            else:
                _sec.grant(
                    cat, info.ix, subject, level, actor=a.user,
                    subject_type=subject_type, owner=owner,
                )
            print(f"Set {subject_type} access {subject}={level} OK")

    def cmd_create_group(self):
        from lagoon_spark import security as _sec

        _sec.create_group(self.engine.catalog, self.args.group, actor=self.args.user)
        print("Group created")

    def cmd_manage_group(self):
        from lagoon_spark import security as _sec

        a, cat = self.args, self.engine.catalog
        if a.add_user:
            _sec.add_to_group(cat, a.group, a.add_user, actor=a.user)
        elif a.remove_user:
            _sec.remove_from_group(cat, a.group, a.remove_user, actor=a.user)
        elif a.grant_manage:
            _sec.set_group_manager(cat, a.group, a.grant_manage, True, actor=a.user)
        else:
            _sec.set_group_manager(cat, a.group, a.revoke_manage, False, actor=a.user)
        print("ok")

    def cmd_manage_user(self):
        from lagoon_spark import security as _sec

        a, cat = self.args, self.engine.catalog
        # reference: manage-user authenticates as the DB admin
        # (`Cmdline.hs` parseManageUser); here the invoking -u identity
        # must be the admin
        if not _sec.is_admin(a.user):
            raise _sec.PermissionDenied(f"{a.user!r} may not manage users")
        if a.grant_create:
            _sec.set_capability(cat, a.grant_create, "create", True)
        elif a.revoke_create:
            _sec.set_capability(cat, a.revoke_create, "create", False)
        elif a.grant_create_group:
            _sec.set_capability(cat, a.grant_create_group, "creategroup", True)
        else:
            _sec.set_capability(cat, a.revoke_create_group, "creategroup", False)
        print("ok")

    def cmd_download(self):
        info = self._info()
        out = (
            open(self.args.output, "w", encoding="utf-8", newline="")
            if self.args.output
            else sys.stdout
        )
        try:
            for chunk in self.engine.download(info, fmt=self.args.format):
                out.write(chunk)
        finally:
            if self.args.output:
                out.close()

    def cmd_build_ann_index(self):
        import json as _json

        meta = self.engine.build_ann_index(
            self.args.name,
            self.args.column,
            k=self.args.cells,
            iters=self.args.iters,
            pq_m=self.args.pq_m,
            pq_k=self.args.pq_k,
            pq_iters=self.args.pq_iters,
            include_columns=(
                [c.strip() for c in self.args.include_columns.split(",")]
                if self.args.include_columns
                else None
            ),
        )
        print(_json.dumps(meta))

    def cmd_extend_ann_index(self):
        import json as _json

        meta = self.engine.extend_ann_index(
            self.args.name, self.args.column
        )
        print(_json.dumps(meta))

    def cmd_ann_search(self):
        import json as _json

        res = self.engine.ann_search(
            self.args.name,
            self.args.column,
            _json.loads(self.args.vector),
            topk=self.args.topk,
            nprobe=self.args.nprobe,
            where=self.args.where,
            use_pq=self.args.use_pq,
            rerank_factor=self.args.rerank_factor,
        )
        for r in res.collect():
            print(f"{r['ix']}\t{r['cosine']}")

    def cmd_dedup_source(self):
        info = self.engine.dedup_source(
            self.args.name,
            self.args.column,
            quality_column=self.args.quality_column,
            min_matches=self.args.min_matches,
            reindex=self.args.reindex,
        )
        print(_pretty(info))

    def cmd_clean_source(self):
        info = self.engine.clean_source(
            self.args.name,
            self.args.column,
            rules=self.args.rules,
            min_words=self.args.min_words,
            max_words=self.args.max_words,
            reindex=self.args.reindex,
        )
        print(_pretty(info))

    def cmd_compact(self):
        info = self.engine.compact(self.args.name)
        print("Compacted sources. Resulting source:")
        print(_pretty(info))

    def cmd_sql(self):
        q = sys.stdin.read() if self.args.query == "-" else self.args.query
        for chunk in self.engine.export_query(q, fmt=self.args.format):
            sys.stdout.write(chunk)
        if self.args.format == "json_array":
            sys.stdout.write("\n")

    def cmd_dump_db_info(self):
        # incremental write (round-10 verdict #5): one block in memory
        # at a time, first byte out before the last block is formatted
        for chunk in self.engine.iter_db_info():
            sys.stdout.write(chunk)

    def cmd_stats(self):
        import json as _json

        info = self._info()
        print(_json.dumps(self.engine.stats(info), indent=1, default=str))

    def cmd_export_dataset(self):
        a = self.args
        self.engine.export_query_dataset(
            a.query,
            a.output,
            partition_by=a.partition_by or None,
            sort_by=a.sort_by or None,
            max_records_per_file=a.max_records_per_file,
        )
        print(f"wrote {a.output}")

    def cmd_optimize_layout(self):
        info = self.engine.optimize_layout(self._info(), self.args.cluster_by)
        print("Optimized layout. Updated info:")
        print(_pretty(info if info is not None else self._info()))

    def cmd_stream_ingest(self):
        a = self.args
        self.engine.ingest_stream(
            a.directory,
            a.name,
            checkpoint_dir=a.checkpoint_dir,
            mode=a.mode,
            file_pattern=a.file_pattern,
            file_type={"csv": "tabular"}.get(a.file_type, a.file_type),
            has_headers=not a.no_headers,
            delimiter=a.delimiter,
        ).run_available()
        info = self.engine.catalog.get_source(a.name)
        print(_pretty(info))

    def cmd_serve(self):
        from lagoon_spark.server import LagoonServer

        from lagoon_spark import auth as _auth

        auth = None
        if self.args.auth_ldap:
            auth = _auth.ldap_provider(
                self.args.auth_ldap, self.args.auth_ldap_template
            )
        elif self.args.auth_file:
            # provider form: re-reads per login, distinguishes a
            # missing/unreadable file (server error) from a bad password
            auth = _auth.file_provider(self.args.auth_file)
        srv = LagoonServer(
            self.engine, host=self.args.host, port=self.args.port, auth=auth
        )
        mode = (
            f"session auth [{auth.name}]" if auth
            else "trust-auth (X-Lagoon-User)"
        )
        print(f"lagoon REST facade on http://{self.args.host}:{srv.port} [{mode}]")
        try:
            srv.httpd.serve_forever()
        except KeyboardInterrupt:
            srv.stop()

    def cmd_vacuum(self):
        removed = self.engine.vacuum(
            dry_run=self.args.dry_run,
            temp_grace_sec=self.args.temp_grace_sec,
        )
        for d in removed:
            print(d)


def _pretty(info) -> str:
    """One source block, same layout as dump-db-info (the reference
    pretty-prints SourceInfo identically in both places)."""
    lines = [
        f"{info.name} (version {info.version})",
        f"  URL         {info.url or '(local)'}",
        f"  description {info.description or info.name}",
        f"  tags        {', '.join(sorted(info.tags)) if info.tags else '(no tags)'}",
        f"  created     {info.created}",
        f"  added by    {info.added_by}",
        f"  deprecated  {info.deprecated}",
        f"  table       {info.table_name} (with view {info.view_name})",
    ]
    if info.typed_table_name:
        lines.append(
            f"  typed       {info.typed_table_name} (with view {info.typed_view_name})"
        )
    if info.json_type:
        lines.append(f"  JSON type   {info.json_type}")
    lines.append(f"  row count   {info.row_count}")
    lines.append("  columns")
    lines.append("    \tType\tName")
    for phys, header, ctype in info.columns:
        lines.append(f"    {phys}\t{ctype}\t{header}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cli = _Cli(args)
    handler = getattr(cli, "cmd_" + args.command.replace("-", "_"))
    try:
        handler()
    except Exception as e:  # clean one-line failures, nonzero exit
        if os.environ.get("LAGOON_CLI_TRACEBACK"):
            raise
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        if (
            cli._engine is not None
            and cli._engine.spark is not None
            and cli._owns_spark
        ):
            cli._engine.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
