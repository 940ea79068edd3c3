"""Thin REST facade over the engine — the reference server's routes.

SURVEY §7 descopes the reference's servant/WAI/LDAP machinery ("engine
= library + thin API"); this module is the thin API: a stdlib-only
HTTP server exposing the reference's route shapes
(`src/interface/src/Lagoon/Interface/API.hs:115-290`) over one
in-process engine, speaking the same SourceInfo wire JSON PyLagoon
consumes (`pylagoon.source_json`,
`Interface/SourceInfo.hs:263-279`).

Routes (paths as in API.hs):

    GET    /sources                      list (SourcesSpec subset as query
                                         params; X-Total-Count header)
    POST   /sources?name=...             ingest the request body
    POST   /sources/compact?name=...     compact all versions
    GET    /source/<ix>                  SourceInfo JSON
    DELETE /source/<ix>
    POST   /source/<ix>/tags             body: ["tag", ...]
    DELETE /source/<ix>/tag/<name>
    GET    /source/<ix>/download         streamed CSV / JSON lines
    GET    /source/<ix>/column/<name>    → column identifier
    POST   /column/<ix>/<name>/type      body: "TEXT" etc. (ColumnSetType;
                                         addressed by source ix + column —
                                         no global ColumnIx here)
    POST   /source/<ix>/makeTyped
    POST   /source/<ix>/deprecated       body: true | false
    POST   /source/<ix>/public           body: true | false
    POST   /source/<ix>/userAccessLevel/<user>    body: "read"|"update"|
                                                  "manage"|"none"
    POST   /source/<ix>/groupAccessLevel/<group>  body: same
    GET    /source/name/<name>           → SourceNameIx
    GET    /source/version/<snix>?version=N  → SourceIx
    GET    /source/versions/<snix>       → [SourceIx]
    POST   /source/inferJsonType         body: JSON document(s)
    POST   /sql?format=csv|json|json_array   body: SQL text
    GET    /groups                       group names
    POST   /group/<name>                 create group
    POST   /group/<name>/members         body: "<user>"  (add member)
    DELETE /group/<name>/member/<user>
    POST   /group/<name>/admins          body: "<user>"  (add manager)
    DELETE /group/<name>/admin/<user>
    POST   /group/<name>/addUser/<user>  (legacy spellings of the same)
    GET    /users                        known principals (uploaders,
                                         group members, created users)
    POST   /users                        body: "<name>" — create a user
                                         (admin; recorded as a CREATE
                                         capability row)
    GET    /debug/dumpDbInfo             every source's wire JSON (admin)
    POST   /debug/rebuildCanReadCache    drop the in-process catalog cache
    POST   /user/login?persistent        body: {"user": .., "pass": ..}
                                         → {"ok": {"username": ..}} +
                                         Set-Cookie: sessionId=<token>
                                         (`Interface/API.hs:335-339`,
                                         `Server/API/User.hs:43-52`;
                                         cookie name
                                         `Servant/Session.hs:223-224`)
    POST   /user/logout                  clears the session cookie
    POST   /user/token                   → auth token (the resumable
                                         session id; 401 when unauth)
    POST   /user/resume                  body: "<token>" → LoginResult
                                         + fresh cookie
    POST   /user/<name>/create           body: true|false — grant/revoke
                                         the CREATE capability (admin)
    POST   /user/<name>/creategroup      body: same for CREATEGROUP

Authentication: when the server is constructed with an ``auth``
verifier, ``/user/login`` issues opaque session tokens carried in the
``sessionId`` cookie (the reference's session machinery,
`Server/Servant/Session.hs`), and the trust header is ignored; with
``auth=None`` (default) the server runs the reference's trust-auth
mode — ``X-Lagoon-User`` names the actor. Requests with neither
resolve to the anonymous actor ``"unknown"``, whose rights are
whatever the ACL tables grant — the reference likewise serves
unauthenticated sessions with public-only visibility.

Deliberate divergences, documented here once: the credential verifier
is an injected callable/dict (the reference's pluggable AuthProvider
seam, `Server/Auth/VerifyCreds.hs:46-51`, minus the LDAP/HTTP
backends); sessions and persisted resume tokens live in process
memory, so a server restart logs everyone out (the reference persists
sessions in Postgres — a durable store would slot into
``open_session``/``session_user`` without touching the routes); a
failed login answers 403 with the reference's
``{"failed": "Invalid credentials"}`` wire body (the reference returns
it with 200); permission paths key on the SOURCE ix (the engine
anchors grants on the owning dataset itself, so any version's ix
addresses the dataset). Failures map to 403 (PermissionDenied /
QueryDenied / bad login), 404 (unknown source), 401 (token without
session), 400 (anything else), each with a one-line JSON error body.
"""

from __future__ import annotations

import io
import json
import re
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse


def _wire(info) -> dict:
    from lagoon_spark.pylagoon import source_json

    return source_json(info)


class LagoonServer:
    """One engine behind an HTTP listener. ``serve_forever`` blocks;
    ``start()`` runs it on a daemon thread and returns the bound port
    (pass ``port=0`` to pick a free one — the test mode)."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 1866,
        *,
        auth=None,
        trust_header: bool | None = None,
    ):
        """``auth`` is the credential verifier — a ``{user: password}``
        dict or a ``(user, password) -> bool`` callable (the injected
        analog of the reference's AuthProvider). ``trust_header``
        controls whether ``X-Lagoon-User`` names the actor; it defaults
        to True exactly when no verifier is configured (the reference's
        trust-auth deployment mode)."""
        self.engine = engine
        self.auth = auth
        self.trust_header = (auth is None) if trust_header is None else trust_header
        self._sessions: dict[str, str] = {}  # cookie token -> username
        self._resumable: set[str] = set()  # tokens persisted via /user/token
        self._sess_lock = threading.Lock()
        handler = _make_handler(self)
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    # -- sessions --------------------------------------------------------------

    def verify_credentials(self, user: str, password: str) -> bool:
        from lagoon_spark import auth as _auth

        return isinstance(self.verify_login(user, password), _auth.LoginOk)

    def verify_login(self, user: str, password: str):
        """Full login-result taxonomy (`Lagoon.Auth`): LoginOk,
        LoginInvalidCreds, or LoginServerError — an
        :class:`lagoon_spark.auth.AuthProvider` reports all three;
        dict/callable verifiers collapse to ok/invalid."""
        from lagoon_spark import auth as _auth

        if self.auth is None:
            return _auth.LoginInvalidCreds()
        if isinstance(self.auth, _auth.AuthProvider):
            res = self.auth(user, password)
            return res if res is not None else _auth.LoginServerError(
                f"provider {self.auth.name} returned nothing"
            )
        ok = (
            bool(self.auth(user, password))
            if callable(self.auth)
            else self.auth.get(user) == password
        )
        return _auth.LoginOk() if ok else _auth.LoginInvalidCreds()

    def open_session(self, user: str) -> str:
        import secrets

        token = secrets.token_urlsafe(32)
        with self._sess_lock:
            self._sessions[token] = user
        return token

    def close_session(self, token: str) -> None:
        with self._sess_lock:
            self._sessions.pop(token, None)
            self._resumable.discard(token)

    def session_user(self, token: str | None) -> str | None:
        if not token:
            return None
        with self._sess_lock:
            return self._sessions.get(token)

    # -- request-scoped engine view ------------------------------------------

    def _as_user(self, user: str):
        """The engine bound to the request's identity. One shared
        engine object would race `.user` across handler threads, so
        each request gets a shallow per-user view sharing the catalog
        (and therefore the writer lock and cache)."""
        from lagoon_spark.engine import Lagoon

        eng = Lagoon(
            self.engine.spark,
            self.engine.warehouse,
            user=user,
            default_public=self.engine.default_public,
        )
        eng.catalog = self.engine.catalog  # share cache + lock state
        return eng


def _make_handler(srv: LagoonServer):
    class Handler(BaseHTTPRequestHandler):
        # chunked Transfer-Encoding (the download/sql streams) is an
        # HTTP/1.1 construct; BaseHTTPRequestHandler defaults to 1.0
        # status lines, under which strict clients reject or mis-frame
        # chunked bodies
        protocol_version = "HTTP/1.1"
        # Nagle off, writes buffered. With Nagle on, a response sent as
        # two small segments (headers, then body; or one chunk per
        # result row) holds its second segment until the client's
        # delayed ACK, a fixed ~40 ms per keep-alive request on Linux.
        # The 64 KiB write buffer, and _stream's chunks of that size,
        # keep Nagle-off from sending one segment per row;
        # handle_one_request flushes the buffer after each request.
        disable_nagle_algorithm = True
        wbufsize = 1 << 16

        # route table: (method, compiled path) → handler name
        ROUTES = [
            ("GET", r"^/sources$", "sources_get"),
            ("POST", r"^/sources$", "sources_post"),
            ("POST", r"^/sources/compact$", "sources_compact"),
            ("GET", r"^/source/name/(?P<name>[^/]+)$", "source_by_name"),
            ("GET", r"^/source/version/(?P<snix>\d+)$", "source_version"),
            ("GET", r"^/source/versions/(?P<snix>\d+)$", "source_versions"),
            ("POST", r"^/source/inferJsonType$", "infer_json_type"),
            ("GET", r"^/source/(?P<ix>\d+)$", "source_get"),
            ("DELETE", r"^/source/(?P<ix>\d+)$", "source_delete"),
            ("POST", r"^/source/(?P<ix>\d+)/tags$", "tags_post"),
            ("DELETE", r"^/source/(?P<ix>\d+)/tag/(?P<tag>[^/]+)$", "tag_delete"),
            ("GET", r"^/source/(?P<ix>\d+)/download$", "download"),
            (
                "GET",
                r"^/source/(?P<ix>\d+)/column/(?P<col>[^/]+)$",
                "source_get_column",
            ),
            ("POST", r"^/source/(?P<ix>\d+)/makeTyped$", "make_typed"),
            ("POST", r"^/column/(?P<ix>\d+)/(?P<col>[^/]+)/type$", "column_set_type"),
            ("POST", r"^/source/(?P<ix>\d+)/deprecated$", "set_deprecated"),
            ("POST", r"^/source/(?P<ix>\d+)/public$", "set_public"),
            (
                "POST",
                r"^/source/(?P<ix>\d+)/userAccessLevel/(?P<subject>[^/]+)$",
                "set_user_level",
            ),
            (
                "POST",
                r"^/source/(?P<ix>\d+)/groupAccessLevel/(?P<subject>[^/]+)$",
                "set_group_level",
            ),
            ("POST", r"^/sql$", "sql"),
            ("GET", r"^/groups$", "groups_get"),
            # the reference's wire spellings (`API.hs:388-420`): member
            # add by body, removal by path capture
            ("POST", r"^/group/(?P<g>[^/]+)/members$", "group_add_member"),
            (
                "DELETE",
                r"^/group/(?P<g>[^/]+)/member/(?P<u>[^/]+)$",
                "group_remove_member",
            ),
            ("POST", r"^/group/(?P<g>[^/]+)/admins$", "group_add_admin"),
            (
                "DELETE",
                r"^/group/(?P<g>[^/]+)/admin/(?P<u>[^/]+)$",
                "group_remove_admin",
            ),
            ("POST", r"^/group/(?P<g>[^/]+)$", "group_create"),
            (
                "POST",
                r"^/group/(?P<g>[^/]+)/(?P<op>addUser|removeUser|addAdmin|removeAdmin)/(?P<u>[^/]+)$",
                "group_manage",
            ),
            ("GET", r"^/users$", "users_get"),
            ("POST", r"^/users$", "users_create"),
            ("GET", r"^/debug/dumpDbInfo$", "debug_dump"),
            ("POST", r"^/debug/rebuildCanReadCache$", "debug_rebuild_cache"),
            ("POST", r"^/user/login$", "user_login"),
            ("POST", r"^/user/logout$", "user_logout"),
            ("POST", r"^/user/token$", "user_token"),
            ("POST", r"^/user/resume$", "user_resume"),
            (
                "POST",
                r"^/user/(?P<uname>[^/]+)/(?P<cap>create|creategroup)$",
                "user_set_capability",
            ),
        ]
        _COMPILED = [(m, re.compile(p), h) for m, p, h in ROUTES]

        def log_message(self, *a):
            # silent: structured per-request records are the tracing
            # work of ROADMAP.md item 2, not stderr lines
            pass

        # -- plumbing ---------------------------------------------------------

        def _cookie_token(self) -> str | None:
            from http.cookies import SimpleCookie

            c = SimpleCookie()
            try:
                c.load(self.headers.get("Cookie", ""))
            except Exception:
                return None
            morsel = c.get("sessionId")
            return morsel.value if morsel else None

        def _dispatch(self, method: str) -> None:
            u = urlparse(self.path)
            qs = parse_qs(u.query, keep_blank_values=True)
            self.query = {k: v[-1] for k, v in qs.items()}
            self.query_all = qs  # repeatable params (tag, column, user)
            # identity: a live session cookie wins; the trust header
            # only counts in trust-auth mode; else anonymous
            self.user = srv.session_user(self._cookie_token()) or (
                self.headers.get("X-Lagoon-User", "unknown")
                if srv.trust_header
                else "unknown"
            )
            self.eng = srv._as_user(self.user)
            for m, pat, hname in self._COMPILED:
                if m != method:
                    continue
                hit = pat.match(u.path)
                if hit:
                    try:
                        getattr(self, hname)(
                            **{k: unquote(v) for k, v in hit.groupdict().items()}
                        )
                    except Exception as e:  # map engine failures to codes
                        self._error(e)
                    return
            self._json({"error": f"no route {method} {u.path}"}, 404)

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_DELETE(self):
            self._dispatch("DELETE")

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def _json(self, obj, code: int = 200, headers: dict | None = None):
            data = json.dumps(obj).encode()
            if code >= 400:
                # an errored handler may not have drained the request
                # body; under HTTP/1.1 keep-alive those bytes would be
                # parsed as the next request — drop the connection
                self.close_connection = True
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            if code >= 400:
                self.send_header("Connection", "close")
            for k, v in (headers or {}).items():
                self.send_header(k, str(v))
            self.end_headers()
            self.wfile.write(data)

        def _stream(self, chunks, content_type: str):
            # force the generator's permission/verification work BEFORE
            # committing a 200: engine.download / export_query raise
            # PermissionDenied/QueryDenied on first pull, and an error
            # after headers have gone out corrupts the response
            it = iter(chunks)
            parts = [next(it, "").encode()]
            size = len(parts[0])
            self.send_response(200)
            self.send_header("Content-Type", content_type)
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            # one HTTP chunk per wbufsize bytes, not one per row: the
            # client parses a few dozen chunk headers for a 40k-row
            # export instead of 40k
            for chunk in it:
                b = chunk.encode()
                parts.append(b)
                size += len(b)
                if size >= self.wbufsize:
                    self._write_chunk(b"".join(parts))
                    parts, size = [], 0
            if size:
                self._write_chunk(b"".join(parts))
            self.wfile.write(b"0\r\n\r\n")

        def _write_chunk(self, b: bytes) -> None:
            self.wfile.write(f"{len(b):X}\r\n".encode() + b + b"\r\n")

        def _error(self, e: Exception):
            from lagoon_spark import security

            if isinstance(e, (security.PermissionDenied, security.QueryDenied)):
                code = 403
            elif isinstance(e, KeyError) or "unknown source" in str(e).lower():
                code = 404
            else:
                code = 400
            self._json({"error": f"{type(e).__name__}: {e}"}, code)

        def _info(self, ix: str):
            return self.eng.catalog.get_source_by_ix(int(ix))

        # -- /sources ----------------------------------------------------------

        # reference SourcesColumn wire names (`Interface/Schema.hs:44-58`)
        # → catalog.search order keys
        _ORDER_COLS = {
            "ix": "ix",
            "sourcename": "name",
            "url": "url",
            "version": "version",
            "created": "created",
            "addedby": "added_by",
            "tablename": "table_name",
            "viewname": "view_name",
            "description": "description",
        }

        def sources_get(self):
            """The FULL ExpandSourcesSpec parameter list
            (`Interface/API.hs:484-498`): offset/limit/search/ix,
            repeatable tag/user/column, description/name,
            createdAfter/createdBefore, orderAsc/orderDesc (value = a
            SourcesColumn name; the legacy orderBy + orderAsc=true|false
            spelling still works), and the includeDeprecated flag
            (absent → deprecated sources hidden, the REST default —
            QueryFlag semantics)."""
            q, qa = self.query, self.query_all
            order_by, ascending = q.get("orderBy"), True
            if q.get("orderAsc") in ("true", "false"):  # legacy flag form
                ascending = q["orderAsc"] == "true"
            elif "orderAsc" in q:
                order_by, ascending = self._order_col(q["orderAsc"]), True
            if "orderDesc" in q:
                order_by, ascending = self._order_col(q["orderDesc"]), False
            if order_by is None:
                # reference default sort (`Server/Serialization.hs:56-57`)
                order_by = "created"
            users = qa.get("user", [])
            infos, total = self.eng.catalog.search(
                ix=int(q["ix"]) if "ix" in q else None,
                name_contains=q.get("q") or q.get("name"),
                description_contains=q.get("description"),
                created_after=q.get("createdAfter"),
                created_before=q.get("createdBefore"),
                tags_all=qa.get("tag") or None,
                columns_all=qa.get("column") or None,
                # several ?user= params are any-of (a source has ONE
                # uploader)
                added_by_any=users or None,
                include_deprecated="includeDeprecated" in qa,
                ts_query=q.get("search"),
                offset=int(q.get("offset", 0)),
                limit=int(q["limit"]) if "limit" in q else None,
                order_by=order_by,
                ascending=ascending,
            )
            self._json(
                [_wire(i) for i in infos], headers={"X-Total-Count": total}
            )

        def _order_col(self, name: str) -> str:
            try:
                return self._ORDER_COLS[name]
            except KeyError:
                raise ValueError(f"invalid SourcesColumn {name!r}") from None

        def sources_post(self):
            q = self.query
            name = q.get("name")
            if not name:
                raise ValueError("?name= is required")
            suffix = ".json" if q.get("fileType") == "json" else ".csv"
            with tempfile.NamedTemporaryFile("wb", suffix=suffix, delete=False) as f:
                f.write(self._body())
                spool = f.name
            try:
                info = self.eng.ingest(
                    spool,
                    name,
                    description=q.get("description"),
                    # ?tag= repeats (ExpandIngestOptions QueryParams);
                    # comma-splitting kept for the legacy spelling
                    tags=[
                        t
                        for v in self.query_all.get("tag", [])
                        for t in v.split(",")
                    ]
                    or None,
                    created=q.get("created"),
                    has_headers=q.get("noHeaders") is None,
                    json_path=q.get("jsonPath"),
                    source_identifier=q.get("sourceIdentifier"),
                    file_type={"csv": "tabular"}.get(
                        q.get("fileType"), q.get("fileType")
                    ),
                    public=False if q.get("private") is not None else None,
                )
            finally:
                import os as _os

                _os.unlink(spool)
            self._json(_wire(info))

        def sources_compact(self):
            name = self.query.get("name")
            if not name:
                raise ValueError("?name= is required")
            self._json(_wire(self.eng.compact(name)))

        # -- /source/<ix> ------------------------------------------------------

        def source_get(self, ix):
            self._json(_wire(self._info(ix)))

        def source_delete(self, ix):
            self.eng.delete_source(self._info(ix))
            self._json(None)

        def tags_post(self, ix):
            info = self._info(ix)
            for t in json.loads(self._body()):
                self.eng.catalog.tag(info.ix, t)
            self._json(None)

        def tag_delete(self, ix, tag):
            self.eng.catalog.untag(self._info(ix).ix, tag)
            self._json(None)

        def download(self, ix):
            info = self._info(ix)
            fmt = self.query.get("format")
            ct = "application/json" if (fmt or info.format) == "json" else "text/csv"
            self._stream(self.eng.download(info, fmt=fmt), ct)

        def make_typed(self, ix):
            self._json(_wire(self.eng.make_typed(self._info(ix))))

        def source_get_column(self, ix, col):
            """`API.hs:189-194` SourceGetColumn → ColumnIx. Columns here
            are keyed (source, name) rather than globally indexed, so
            the returned identifier is the physical column name — the
            value `/column/<ix>/<name>/type` addresses. Read-gated:
            column names of a private source are metadata an
            unauthorized principal must not learn."""
            from lagoon_spark import security as _sec

            info = self._info(ix)
            if not (
                _sec.is_admin(self.user)
                or info.added_by == self.user
                or _sec.can_read(self.eng.catalog, self.user, info.ix)
            ):
                raise _sec.PermissionDenied(
                    f"{self.user!r} may not read columns of {info.name!r}"
                )
            phys, _header, _t = self.eng.catalog.get_column(int(ix), col)
            self._json(phys)

        def column_set_type(self, ix, col):
            """`API.hs:303-312` ColumnSetType (`POST /column/../type`,
            body = the new type). Addressed by source ix + column name
            (this engine has no global ColumnIx; divergence documented
            on the GET route above)."""
            new_type = json.loads(self._body())
            info = self.eng.set_column_type(self._info(ix), col, new_type)
            self._json(_wire(info))

        def set_deprecated(self, ix):
            info = self._info(ix)
            self.eng.catalog.update_source(
                info.ix, deprecated=bool(json.loads(self._body()))
            )
            self._json(None)

        def set_public(self, ix):
            from lagoon_spark import security as _sec

            _sec.set_public(
                self.eng.catalog,
                int(ix),
                bool(json.loads(self._body())),
                actor=self.user,
                owner=self._info(ix).added_by,
            )
            self._json(None)

        def _set_level(self, ix, subject, subject_type):
            from lagoon_spark import security as _sec

            level = json.loads(self._body())
            owner = self._info(ix).added_by
            if level == "none":
                _sec.revoke(
                    self.eng.catalog, int(ix), subject, actor=self.user,
                    subject_type=subject_type, owner=owner,
                )
            else:
                _sec.grant(
                    self.eng.catalog, int(ix), subject, level, actor=self.user,
                    subject_type=subject_type, owner=owner,
                )
            self._json(None)

        def set_user_level(self, ix, subject):
            self._set_level(ix, subject, "user")

        def set_group_level(self, ix, subject):
            self._set_level(ix, subject, "group")

        # -- name/version resolution -------------------------------------------

        def _names(self):
            return self.eng.catalog.load("sourcenames")

        def source_by_name(self, name):
            names = self._names()
            hit = names[names["name"] == name]
            if not len(hit):
                raise KeyError(f"unknown source {name!r}")
            self._json(int(hit.iloc[0]["ix"]))

        def _sn_sources(self, snix):
            from lagoon_spark.catalog import _visible

            # committed versions only: an in-flight (or crashed)
            # ingest's pending row must not resolve over the wire —
            # same invariant as get_source/versions/search
            s = _visible(self.eng.catalog.load("sources"))
            return s[s["sourcename_ix"] == int(snix)]

        def source_version(self, snix):
            rows = self._sn_sources(snix)
            if "version" in self.query:
                rows = rows[rows["version"] == int(self.query["version"])]
            else:
                rows = rows[rows["version"] == rows["version"].max()]
            if not len(rows):
                raise KeyError(f"no such version for sourcename {snix}")
            self._json(int(rows.iloc[0]["ix"]))

        def source_versions(self, snix):
            rows = self._sn_sources(snix)
            self._json([int(x) for x in sorted(rows["ix"])])

        def infer_json_type(self):
            from lagoon_spark.ingest import jsonsplit, jsontype

            jpath = (
                jsonsplit.parse_path(self.query["jsonPath"])
                if "jsonPath" in self.query
                else jsonsplit.HERE
            )
            merged = None
            for raw in jsonsplit.split_values(
                io.StringIO(self._body().decode("utf-8")), jpath
            ):
                t = jsontype.type_of_value(json.loads(raw))
                merged = t if merged is None else jsontype.unify(merged, t)
            self._json(jsontype.render(merged) if merged is not None else None)

        # -- /sql ---------------------------------------------------------------

        def sql(self):
            fmt = self.query.get("format", "csv")
            sql_text = self._body().decode("utf-8")
            ct = "text/csv" if fmt == "csv" else "application/json"
            self._stream(self.eng.export_query(sql_text, fmt=fmt), ct)

        # -- groups / users ------------------------------------------------------

        def groups_get(self):
            from lagoon_spark import security as _sec

            g = _sec._sec_load(self.eng.catalog, "groups")
            self._json(sorted(g["name"].tolist()))

        def group_create(self, g):
            from lagoon_spark import security as _sec

            _sec.create_group(self.eng.catalog, g, actor=self.user)
            self._json(None)

        def group_manage(self, g, op, u):
            from lagoon_spark import security as _sec

            cat = self.eng.catalog
            if op == "addUser":
                _sec.add_to_group(cat, g, u, actor=self.user)
            elif op == "removeUser":
                _sec.remove_from_group(cat, g, u, actor=self.user)
            elif op == "addAdmin":
                _sec.set_group_manager(cat, g, u, True, actor=self.user)
            else:
                _sec.set_group_manager(cat, g, u, False, actor=self.user)
            self._json(None)

        def users_get(self):
            from lagoon_spark import security as _sec

            cat = self.eng.catalog
            out = set(cat.load("sources")["added_by"].dropna())
            # explicitly created users (capability rows) and group
            # principals are known users too, like PyLagoon.users()
            out.update(_sec._sec_load(cat, "user_caps")["user"].tolist())
            out.update(_sec._sec_load(cat, "group_members")["user"].tolist())
            out.update(_sec._sec_load(cat, "group_managers")["user"].tolist())
            self._json(sorted(out))

        def users_create(self):
            """`API.hs:374-379` UsersCreate (admin). The reference adds
            a DB users row; the analog here is an explicit CREATE
            capability row, which registers the principal (it appears
            in /users) with the same default rights."""
            from lagoon_spark import security as _sec

            if not _sec.is_admin(self.user):
                raise _sec.PermissionDenied(
                    f"only {_sec.ADMIN} may create users"
                )
            name = json.loads(self._body())
            if not isinstance(name, str) or not name:
                raise ValueError("user name must be a non-empty string")
            with self.eng.catalog.writer_lock():
                _sec.set_capability(self.eng.catalog, name, "create", True)
            self._json(None)

        # -- /debug (`API.hs:434-444`) -----------------------------------------

        def debug_dump(self):
            """DebugDumpDbInfo → every source's wire JSON (admin)."""
            from lagoon_spark import security as _sec

            if not _sec.is_admin(self.user):
                raise _sec.PermissionDenied("debug routes are admin-only")
            infos, _total = self.eng.catalog.search(include_deprecated=True)
            self._json([_wire(i) for i in infos])

        def debug_rebuild_cache(self):
            """DebugRebuildCanReadCache analog: drop the in-process
            catalog cache so the next read rebuilds from disk (this
            engine derives read permissions directly from the ACL
            parquet — the cache IS the only derived state)."""
            from lagoon_spark import security as _sec

            if not _sec.is_admin(self.user):
                raise _sec.PermissionDenied("debug routes are admin-only")
            # force: this route's contract is an unconditional rebuild
            # (the validity-aware default would keep untouched tables)
            self.eng.catalog.refresh(force=True)
            self._json(None)

        # reference spellings for group membership (`API.hs:388-420`)

        def group_add_member(self, g):
            self.group_manage(g, "addUser", json.loads(self._body()))

        def group_remove_member(self, g, u):
            self.group_manage(g, "removeUser", u)

        def group_add_admin(self, g):
            self.group_manage(g, "addAdmin", json.loads(self._body()))

        def group_remove_admin(self, g, u):
            self.group_manage(g, "removeAdmin", u)

        # -- /user: sessions (`Interface/API.hs:328-366`) -----------------------

        def _set_cookie(self, token: str | None) -> dict:
            if token is None:  # logout: expire it
                return {"Set-Cookie": "sessionId=; Path=/; Max-Age=0; HttpOnly"}
            return {"Set-Cookie": f"sessionId={token}; Path=/; HttpOnly"}

        def user_login(self):
            if srv.auth is None:
                raise ValueError(
                    "no credential verifier configured; this server runs "
                    "in trust-auth mode (X-Lagoon-User)"
                )
            from lagoon_spark import auth as _auth

            creds = json.loads(self._body() or b"{}")
            user, password = creds.get("user"), creds.get("pass")
            res = (
                srv.verify_login(user, password)
                if user and password is not None
                else _auth.LoginInvalidCreds()
            )
            if isinstance(res, _auth.LoginServerError):
                # the reference's LoginServerError: the PROVIDER failed
                # (directory down, bad template) — not the credentials
                self._json({"error": res.message}, 502)
                return
            if not isinstance(res, _auth.LoginOk):
                # the reference's LoginFailed wire body (`Auth.hs:96-99`),
                # carried on 403 so clients need no body inspection
                self._json({"failed": "Invalid credentials"}, 403)
                return
            token = srv.open_session(user)
            self._json(
                {"ok": {"username": user}}, headers=self._set_cookie(token)
            )

        def user_logout(self):
            token = self._cookie_token()
            if token:
                srv.close_session(token)
            self._json(None, headers=self._set_cookie(None))

        def user_token(self):
            """Persist the session for later /user/resume and return its
            opaque token (`Server/API/User.hs:62-67`)."""
            token = self._cookie_token()
            if not token or srv.session_user(token) is None:
                self._json({"error": "Not logged in"}, 401)
                return
            with srv._sess_lock:
                srv._resumable.add(token)
            self._json(token)

        def user_resume(self):
            token = json.loads(self._body() or b'""')
            with srv._sess_lock:
                live = (
                    token in srv._resumable and token in srv._sessions
                )
                user = srv._sessions.get(token)
            if not live:
                self._json({"failed": "Invalid credentials"}, 403)
                return
            self._json(
                {"ok": {"username": user}}, headers=self._set_cookie(token)
            )

        def user_set_capability(self, uname, cap):
            """Grant/revoke the CREATE / CREATEGROUP capability
            (`Server/API/User.hs:82-103`; admin-gated like the
            reference's getSessionAdmin)."""
            from lagoon_spark import security as _sec

            if not _sec.is_admin(self.user):
                raise _sec.PermissionDenied(
                    f"only {_sec.ADMIN} may change capabilities"
                )
            allowed = bool(json.loads(self._body()))
            with self.eng.catalog.writer_lock():
                _sec.set_capability(self.eng.catalog, uname, cap, allowed)
            self._json(None)

    return Handler
