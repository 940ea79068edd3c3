"""REST facade tests — the reference server's routes over one engine.

Drives `lagoon_spark.server.LagoonServer` through real HTTP (urllib
against a thread-bound listener on a free port): the PyLagoon wire
JSON, streaming download/sql, permission mapping to 403, and the
name/version resolution endpoints (`Interface/API.hs:115-290`).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture()
def served(lagoon):
    from lagoon_spark.server import LagoonServer

    lagoon.user = "admin"
    srv = LagoonServer(lagoon, port=0)
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _req(base, method, path, body=None, user="admin", headers=None):
    data = (
        body if isinstance(body, bytes)
        else json.dumps(body).encode() if body is not None
        else None
    )
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"X-Lagoon-User": user, **(headers or {})},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        payload = r.read()
        ct = r.headers.get("Content-Type", "")
        return r.status, dict(r.headers), (
            json.loads(payload) if ct.startswith("application/json") and payload
            else payload.decode()
        )


def test_ingest_list_download_sql_roundtrip(served):
    # POST /sources ingests the request body
    st, _, info = _req(
        served, "POST", "/sources?name=web&tag=demo",
        body=b"a,b\n1,x\n2,y\n",
    )
    assert st == 200 and info["name"] == "web" and info["numRows"] == 2
    assert info["viewName"] == "web_v1" and info["tags"] == ["demo"]
    assert {c["header"] for c in info["columns"]} == {"a", "b"}

    st, hdr, lst = _req(served, "GET", "/sources?tag=demo")
    assert st == 200 and hdr["X-Total-Count"] == "1" and lst[0]["ix"] == info["ix"]

    st, _, csv_text = _req(served, "GET", f"/source/{info['ix']}/download")
    assert csv_text == "a,b\r\n1,x\r\n2,y\r\n"

    st, _, rows = _req(
        served, "POST", "/sql?format=json",
        body=b"SELECT b FROM web_v1_typed WHERE a = 2",
    )
    assert rows == {"b": "y"}


def test_name_version_resolution_and_lifecycle(served, tmp_path):
    for _ in range(2):
        _req(served, "POST", "/sources?name=multi", body=b"x\n7\n")
    st, _, snix = _req(served, "GET", "/source/name/multi")
    assert st == 200
    st, _, ixs = _req(served, "GET", f"/source/versions/{snix}")
    assert len(ixs) == 2
    st, _, latest = _req(served, "GET", f"/source/version/{snix}")
    assert latest == ixs[-1]
    st, _, v1 = _req(served, "GET", f"/source/version/{snix}?version=1")
    assert v1 == ixs[0]

    # tag / untag / deprecate / show
    _req(served, "POST", f"/source/{v1}/tags", body=["red", "blue"])
    _req(served, "DELETE", f"/source/{v1}/tag/red")
    _req(served, "POST", f"/source/{v1}/deprecated", body=True)
    st, _, shown = _req(served, "GET", f"/source/{v1}")
    assert shown["tags"] == ["blue"] and shown["deprecated"] is True

    # delete restores state
    _req(served, "DELETE", f"/source/{latest}")
    st, _, ixs2 = _req(served, "GET", f"/source/versions/{snix}")
    assert ixs2 == [v1]


def test_acl_routes_and_403_mapping(served):
    st, _, info = _req(
        served, "POST", "/sources?name=sec", body=b"a\n1\n", user="alice"
    )
    ix = info["ix"]
    # bob can't download → 403
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", f"/source/{ix}/download", user="bob")
    assert e.value.code == 403
    # alice grants read over HTTP
    _req(served, "POST", f"/source/{ix}/userAccessLevel/bob", body="read",
         user="alice")
    st, _, got = _req(served, "GET", f"/source/{ix}/download", user="bob")
    assert got.startswith("a")
    # revoke via "none"
    _req(served, "POST", f"/source/{ix}/userAccessLevel/bob", body="none",
         user="alice")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", f"/source/{ix}/download", user="bob")
    assert e.value.code == 403
    # group path + public
    _req(served, "POST", "/group/team", user="admin")
    _req(served, "POST", "/group/team/addUser/carol", user="admin")
    _req(served, "POST", f"/source/{ix}/groupAccessLevel/team", body="read",
         user="alice")
    st, _, got = _req(served, "GET", f"/source/{ix}/download", user="carol")
    assert got.startswith("a")
    st, _, groups = _req(served, "GET", "/groups")
    assert groups == ["team"]
    _req(served, "POST", f"/source/{ix}/public", body=True, user="alice")
    st, _, got = _req(served, "GET", f"/source/{ix}/download", user="dave")
    assert got.startswith("a")
    # a write through /sql → 403 (QueryDenied), unknown source → 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "POST", "/sql", body=b"DROP TABLE sec_v1")
    assert e.value.code == 403
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", "/source/99999")
    assert e.value.code == 404


def test_infer_json_type_and_compact(served):
    st, _, jt = _req(
        served, "POST", "/source/inferJsonType",
        body=b'{"a": 1}\n{"a": null, "b": "s"}\n',
    )
    assert jt == '{"a":nullable number, "b":optional string}'

    for _ in range(2):
        _req(served, "POST", "/sources?name=cmp", body=b"v\n1\n")
    st, _, info = _req(served, "POST", "/sources/compact?name=cmp")
    assert st == 200 and info["isCompact"] is True

    st, _, users = _req(served, "GET", "/users")
    assert "admin" in users


def test_pylagoon_source_wrapper_reads_wire_json(served):
    """The facade's JSON is the same shape PyLagoon's Source wraps."""
    from lagoon_spark.pylagoon import Source

    _, _, info = _req(served, "POST", "/sources?name=pyl", body=b"n\n1\n")
    s = Source(info)
    assert s.view_name == "pyl_v1" and "n" in s.columns


# -- round-6: session auth, full SourcesSpec, concurrency ---------------------


@pytest.fixture()
def served_auth(lagoon):
    """Server with a credential verifier: cookie sessions are the only
    identity; X-Lagoon-User is ignored."""
    from lagoon_spark.server import LagoonServer

    lagoon.user = "admin"
    srv = LagoonServer(
        lagoon, port=0, auth={"alice": "pw1", "admin": "root"}
    )
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _cookie(headers) -> str:
    sc = headers.get("Set-Cookie", "")
    return sc.split(";", 1)[0]


def test_login_session_logout_flow(served_auth):
    # wrong password → 403 with the reference's LoginFailed body
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served_auth, "POST", "/user/login",
             body={"user": "alice", "pass": "nope"})
    assert e.value.code == 403
    assert json.loads(e.value.read()) == {"failed": "Invalid credentials"}

    # the trust header is IGNORED when a verifier is configured: an
    # unauthenticated ingest lands as the anonymous actor
    _, _, anon = _req(served_auth, "POST", "/sources?name=anon",
                      body=b"a\n1\n", user="alice")
    assert anon["addedBy"] == "unknown"

    # login → cookie session; work is attributed to the session user
    st, hdr, ok = _req(served_auth, "POST", "/user/login",
                       body={"user": "alice", "pass": "pw1"})
    assert st == 200 and ok == {"ok": {"username": "alice"}}
    cookie = _cookie(hdr)
    assert cookie.startswith("sessionId=")
    _, _, info = _req(
        served_auth, "POST", "/sources?name=mine&private=1",
        body=b"a\n1\n2\n", headers={"Cookie": cookie},
    )
    assert info["addedBy"] == "alice"
    st, _, got = _req(served_auth, "GET", f"/source/{info['ix']}/download",
                      headers={"Cookie": cookie})
    assert st == 200 and got.startswith("a")
    st, _, rows = _req(served_auth, "POST", "/sql?format=json",
                       body=b"SELECT COUNT(*) AS n FROM mine_v1_typed",
                       headers={"Cookie": cookie})
    assert rows == {"n": 2}

    # token → logout → the cookie no longer grants access (private src)
    st, _, token = _req(served_auth, "POST", "/user/token",
                        headers={"Cookie": cookie})
    assert st == 200 and isinstance(token, str) and token
    _req(served_auth, "POST", "/user/logout", headers={"Cookie": cookie})
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served_auth, "GET", f"/source/{info['ix']}/download",
             headers={"Cookie": cookie})
    assert e.value.code == 403

    # a dead token does not resume; neither does a made-up one
    for bad in (token, "forged"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(served_auth, "POST", "/user/resume", body=bad)
        assert e.value.code == 403


def test_auth_token_resume(served_auth):
    _, hdr, _ = _req(served_auth, "POST", "/user/login",
                     body={"user": "alice", "pass": "pw1"})
    cookie = _cookie(hdr)
    _, _, token = _req(served_auth, "POST", "/user/token",
                       headers={"Cookie": cookie})
    # resume from the persisted token alone (a NEW client, no cookie)
    st, hdr2, ok = _req(served_auth, "POST", "/user/resume", body=token)
    assert st == 200 and ok == {"ok": {"username": "alice"}}
    assert _cookie(hdr2).startswith("sessionId=")
    # /user/token without a session → 401
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served_auth, "POST", "/user/token")
    assert e.value.code == 401


def test_capability_routes_admin_gated(served_auth):
    _, hdr, _ = _req(served_auth, "POST", "/user/login",
                     body={"user": "admin", "pass": "root"})
    admin_cookie = _cookie(hdr)
    _, hdr, _ = _req(served_auth, "POST", "/user/login",
                     body={"user": "alice", "pass": "pw1"})
    alice_cookie = _cookie(hdr)
    # non-admin may not change capabilities
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served_auth, "POST", "/user/bob/create", body=False,
             headers={"Cookie": alice_cookie})
    assert e.value.code == 403
    # admin revokes alice's CREATE → her new-dataset ingest is denied
    _req(served_auth, "POST", "/user/alice/create", body=False,
         headers={"Cookie": admin_cookie})
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served_auth, "POST", "/sources?name=blocked", body=b"a\n1\n",
             headers={"Cookie": alice_cookie})
    assert e.value.code == 403
    # and grants it back
    _req(served_auth, "POST", "/user/alice/create", body=True,
         headers={"Cookie": admin_cookie})
    st, _, info = _req(served_auth, "POST", "/sources?name=allowed",
                       body=b"a\n1\n", headers={"Cookie": alice_cookie})
    assert st == 200 and info["addedBy"] == "alice"


def test_sources_spec_full_param_surface(served):
    """GET /sources carries the reference's ExpandSourcesSpec params
    (`Interface/API.hs:484-498`): repeatable tag/user/column,
    createdAfter/Before, orderAsc/orderDesc columns, includeDeprecated
    flag."""
    _req(served, "POST", "/sources?name=s_one&tag=red&tag=old",
         body=b"alpha,beta\n1,2\n", user="alice")
    _req(served, "POST", "/sources?name=s_two&tag=red",
         body=b"alpha,gamma\n3,4\n", user="bob")
    _req(served, "POST", "/sources?name=s_three&description=about+carrots",
         body=b"delta\n5\n", user="carol")

    def ls(qs):
        st, hdr, lst = _req(served, "GET", f"/sources?{qs}")
        assert st == 200
        return [s["name"] for s in lst], hdr["X-Total-Count"]

    names, total = ls("")
    assert names == ["s_one", "s_two", "s_three"] and total == "3"  # created asc
    assert ls("orderDesc=ix")[0] == ["s_three", "s_two", "s_one"]
    assert ls("orderAsc=sourcename")[0] == ["s_one", "s_three", "s_two"]
    # repeatable params: tags AND; users any-of; columns AND
    assert ls("tag=red&tag=old")[0] == ["s_one"]
    assert ls("user=alice&user=carol")[0] == ["s_one", "s_three"]
    assert ls("column=alpha")[0] == ["s_one", "s_two"]
    assert ls("column=alpha&column=gamma")[0] == ["s_two"]
    assert ls("description=carrot")[0] == ["s_three"]
    # created-bounds round trip off a listed timestamp
    _, _, lst = _req(served, "GET", "/sources?name=s_two")
    created = lst[0]["created"]
    got, _ = ls(f"createdAfter={urllib.parse.quote(created)}")
    assert "s_two" in got
    # deprecated sources are hidden unless the flag is present
    ix_one = lst and _req(served, "GET", "/source/name/s_one")[2]
    v1 = _req(served, "GET", f"/source/version/{ix_one}")[2]
    _req(served, "POST", f"/source/{v1}/deprecated", body=True)
    assert ls("")[0] == ["s_two", "s_three"]
    assert ls("includeDeprecated")[0] == ["s_one", "s_two", "s_three"]
    # bad order column → 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", "/sources?orderAsc=nonsense")
    assert e.value.code == 400


def test_concurrent_requests_one_engine(served):
    """Concurrent ingest + sql + download over the ThreadingHTTPServer:
    every ingest lands with a distinct ix, reads see consistent data,
    and no request 500s (round-5 verdict ask #7)."""
    import threading

    _, _, seed = _req(served, "POST", "/sources?name=conc_seed",
                      body=b"v\n0\n")
    errors: list = []
    ixs: list = []
    lock = threading.Lock()

    def ingest(i):
        try:
            _, _, info = _req(served, "POST", f"/sources?name=conc_{i}",
                              body=f"v\n{i}\n".encode())
            with lock:
                ixs.append(info["ix"])
        except Exception as exc:
            errors.append(exc)

    def read(_i):
        try:
            st, _, body = _req(served, "GET",
                               f"/source/{seed['ix']}/download")
            assert body == "v\r\n0\r\n"
            st, _, rows = _req(served, "POST", "/sql?format=json",
                               body=b"SELECT COUNT(*) AS n FROM conc_seed_v1")
            assert rows == {"n": 1}
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=ingest, args=(i,)) for i in range(4)]
    threads += [threading.Thread(target=read, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    assert len(set(ixs)) == 4
    # catalog intact: every source listed once, all data readable
    st, hdr, lst = _req(served, "GET", "/sources?name=conc_")
    assert hdr["X-Total-Count"] == "5"
    for i in range(4):
        _, _, rows = _req(served, "POST", "/sql?format=json",
                          body=f"SELECT v FROM conc_{i}_v1_typed".encode())
        assert rows == {"v": i}


def test_http_pylagoon_client_roundtrip(served, tmp_path):
    """The HTTP-backed PyLagoon twin drives the real facade end-to-end:
    ingest, filtered listing, CSV + JSON downloads, SQL query, users —
    the reference client's connected-mode surface over the wire."""
    from lagoon_spark.pylagoon import LagoonHTTP

    port = int(served.rsplit(":", 1)[1])
    cli = LagoonHTTP(port=port, user="alice")
    assert not cli.is_authenticated  # trust-header mode

    p = tmp_path / "hc.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    src = cli.ingest(str(p), "hc", tags=["t1"])
    assert src.view_name == "hc_v1"

    [listed] = cli.sources(tags=["t1"])
    assert listed.ix == src.ix
    assert [s.ix for s in cli.my_sources()] == [src.ix]
    assert cli.users() == ["alice"]

    df = cli.download_source(src)
    assert list(df["a"]) == [1, 2] and list(df["b"]) == ["x", "y"]

    q = cli.download_query("SELECT COUNT(*) AS n FROM hc_v1_typed")
    assert list(q["n"]) == [2]

    j = tmp_path / "hj.json"
    j.write_text('{"k": 1}\n{"k": 2}\n')
    jsrc = cli.ingest(str(j), "hj")
    # JSON sources download as the original documents, one per line
    jdf = cli.download_source(jsrc)
    assert sorted(jdf["k"]) == [1, 2]


def test_http_pylagoon_client_login_mode(served_auth, tmp_path):
    from lagoon_spark.pylagoon import LagoonHTTP

    port = int(served_auth.rsplit(":", 1)[1])
    with pytest.raises(Exception, match="Authentication failed"):
        LagoonHTTP(port=port, user="alice", password="wrong")
    cli = LagoonHTTP(port=port, user="alice", password="pw1")
    assert cli.is_authenticated
    p = tmp_path / "auth.csv"
    p.write_text("v\n7\n")
    src = cli.ingest(str(p), "authed")
    assert src._json["addedBy"] == "alice"
    cli.logout()
    assert not cli.is_authenticated


def test_column_routes_and_reference_group_spellings(served):
    """Round-6 parity fill: SourceGetColumn (`API.hs:189-194`),
    ColumnSetType (`API.hs:303-312`), and the reference's exact group
    membership spellings (`API.hs:388-420`)."""
    _, _, info = _req(served, "POST", "/sources?name=colsrc",
                      body=b"num,txt\n1,x\n")
    ix = info["ix"]
    st, _, phys = _req(served, "GET", f"/source/{ix}/column/num")
    assert st == 200 and phys == "c1"
    # resolvable by physical name too; unknown → 404
    assert _req(served, "GET", f"/source/{ix}/column/c2")[2] == "c2"
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", f"/source/{ix}/column/nope")
    assert e.value.code == 404

    st, _, updated = _req(served, "POST", f"/column/{ix}/num/type",
                          body="TEXT")
    assert st == 200
    assert any(
        c["header"] == "num" and c["type"] == "TEXT"
        for c in updated["columns"]
    )
    _, _, rows = _req(served, "POST", "/sql?format=json",
                      body=b"SELECT num FROM colsrc_v1_typed")
    assert rows == {"num": "1"}  # re-materialized as text

    # reference group-membership wire spellings, asserted behaviorally:
    # membership is what grants access through a group ACL
    _, _, priv = _req(served, "POST", "/sources?name=grpsec&private=1",
                      body=b"a\n1\n", user="alice")
    _req(served, "POST", "/group/refg", user="admin")
    _req(served, "POST", "/group/refg/members", body="walter", user="admin")
    _req(served, "POST", "/group/refg/admins", body="wendy", user="admin")
    _req(served, "POST", f"/source/{priv['ix']}/groupAccessLevel/refg",
         body="read", user="alice")
    st, _, got = _req(served, "GET", f"/source/{priv['ix']}/download",
                      user="walter")
    assert st == 200 and got.startswith("a")
    # wendy is a manager: she can add members (manager capability)
    _req(served, "POST", "/group/refg/members", body="vic", user="wendy")
    # removal through the reference spelling revokes the access
    _req(served, "DELETE", "/group/refg/member/walter", user="admin")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", f"/source/{priv['ix']}/download", user="walter")
    assert e.value.code == 403
    _req(served, "DELETE", "/group/refg/admin/wendy", user="admin")


def test_ldap_shaped_auth_provider_end_to_end(lagoon):
    """Round-7 verdict #8: the pluggable AuthProvider seam
    (`Server/Auth/VerifyCreds.hs:46-60`) with an LDAP-shaped provider
    (`Server/Auth/LDAP.hs:29-52`) against a stub directory — DN
    template substitution, the full login-failure taxonomy (403
    invalid creds vs 502 provider error), and a real session issued
    on success."""
    from lagoon_spark import auth as _auth
    from lagoon_spark.server import LagoonServer

    directory = _auth.StubDirectory(
        {"uid=alice,ou=people,dc=example,dc=org": "s3cret"}
    )
    provider = _auth.ldap_provider(
        "ldap://stub.example.org",
        "uid={{user}},ou=people,dc=example,dc=org",
        bind=directory.bind,
    )
    lagoon.user = "admin"
    srv = LagoonServer(lagoon, port=0, auth=provider)
    base = f"http://127.0.0.1:{srv.start()}"
    try:
        # wrong password → 403 with the LoginFailed wire body
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(base, "POST", "/user/login",
                 body={"user": "alice", "pass": "wrong"})
        assert e.value.code == 403
        # right password → session; the bind used the SUBSTITUTED DN
        st, hdr, ok = _req(base, "POST", "/user/login",
                           body={"user": "alice", "pass": "s3cret"})
        assert st == 200 and ok == {"ok": {"username": "alice"}}
        assert directory.binds[-1] == (
            "uid=alice,ou=people,dc=example,dc=org", "s3cret"
        )
        cookie = _cookie(hdr)
        _, _, info = _req(base, "POST", "/sources?name=ldapmine&private=1",
                          body=b"a\n1\n", headers={"Cookie": cookie})
        assert info["addedBy"] == "alice"
        # a provider SERVER error (not wrong creds) → 502, never 403
        broken = _auth.ldap_provider(
            "ldap://stub.example.org", "cn=admin,dc=example,dc=org",  # no slot
            bind=directory.bind,
        )
        srv.auth = broken
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(base, "POST", "/user/login",
                 body={"user": "alice", "pass": "s3cret"})
        assert e.value.code == 502
        # directory unreachable (bind raises) → also 502
        def down(url, dn, password):
            raise ConnectionError("directory unreachable")

        srv.auth = _auth.ldap_provider(
            "ldap://stub.example.org", "uid={{user}},dc=example,dc=org",
            bind=down,
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(base, "POST", "/user/login",
                 body={"user": "alice", "pass": "s3cret"})
        assert e.value.code == 502
    finally:
        srv.stop()


def test_file_auth_provider_taxonomy(tmp_path):
    """file_provider: live re-read, comments, and the unreadable-file
    server error."""
    from lagoon_spark import auth as _auth

    f = tmp_path / "users.txt"
    f.write_text("# staff\nalice:pw1\n")
    p = _auth.file_provider(str(f))
    assert isinstance(p("alice", "pw1"), _auth.LoginOk)
    assert isinstance(p("alice", "nope"), _auth.LoginInvalidCreds)
    assert isinstance(p("bob", "pw"), _auth.LoginInvalidCreds)
    f.write_text("alice:pw1\nbob:pw2\n")  # edits apply without restart
    assert isinstance(p("bob", "pw2"), _auth.LoginOk)
    assert isinstance(
        _auth.file_provider(str(tmp_path / "missing"))("a", "b"),
        _auth.LoginServerError,
    )


def test_column_routes_permission_gated(served):
    """Round-7 ADVICE fix: ColumnSetType is permission-gated in the
    reference (`server/src/Lagoon/Server/API/Column.hs:33-39` runs
    checkHasPermission before setColumnType) — a non-privileged
    principal must not rewrite another user's typed table, nor learn
    a private source's column names via SourceGetColumn."""
    _, _, info = _req(served, "POST", "/sources?name=colperm&private=1",
                      body=b"num\n1\n", user="alice")
    ix = info["ix"]
    # bob can neither read column metadata nor set a type → 403
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", f"/source/{ix}/column/num", user="bob")
    assert e.value.code == 403
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "POST", f"/column/{ix}/num/type", body="TEXT",
             user="bob")
    assert e.value.code == 403
    # type unchanged
    _, _, got = _req(served, "GET", f"/source/{ix}", user="alice")
    assert not any(
        c["header"] == "num" and c["type"] == "TEXT" for c in got["columns"]
    )
    # read level is enough to see the column, not to retype it
    _req(served, "POST", f"/source/{ix}/userAccessLevel/bob", body="read",
         user="alice")
    assert _req(served, "GET", f"/source/{ix}/column/num", user="bob")[2] == "c1"
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "POST", f"/column/{ix}/num/type", body="TEXT",
             user="bob")
    assert e.value.code == 403
    # update level unlocks it (checkHasPermission's update tier)
    _req(served, "POST", f"/source/{ix}/userAccessLevel/bob", body="update",
         user="alice")
    st, _, updated = _req(served, "POST", f"/column/{ix}/num/type",
                          body="TEXT", user="bob")
    assert st == 200 and any(
        c["header"] == "num" and c["type"] == "TEXT"
        for c in updated["columns"]
    )


def test_users_create_and_debug_routes(served):
    """UsersCreate (`API.hs:374-379`) and the /debug group
    (`API.hs:434-444`): created principals appear in /users, debug dump
    lists every source wire-shaped, cache rebuild round-trips — all
    admin-gated."""
    _req(served, "POST", "/users", body="newbie", user="admin")
    assert "newbie" in _req(served, "GET", "/users")[2]
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "POST", "/users", body="x", user="mallory")
    assert e.value.code == 403

    _req(served, "POST", "/sources?name=dbg1", body=b"a\n1\n")
    _req(served, "POST", "/sources?name=dbg1", body=b"a\n1\n2\n")  # v2
    st, _, dump = _req(served, "GET", "/debug/dumpDbInfo", user="admin")
    assert st == 200
    names = [(s["name"], s["version"]) for s in dump]
    assert ("dbg1", 1) in names and ("dbg1", 2) in names  # incl. deprecated v1
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(served, "GET", "/debug/dumpDbInfo", user="mallory")
    assert e.value.code == 403

    st, _, out = _req(served, "POST", "/debug/rebuildCanReadCache",
                      user="admin")
    assert st == 200 and out is None
    # catalog still serves correctly after the cache drop
    assert _req(served, "GET", "/users")[2]


# -- response framing and per-request cost --------------------------------


def _conn(base):
    import http.client
    from urllib.parse import urlparse

    u = urlparse(base)
    return http.client.HTTPConnection(u.hostname, u.port, timeout=60)


def _big_csv(rows: int = 4000) -> bytes:
    # > 64 KiB of result in every format, so the handler's write buffer
    # fills and flushes several times inside one response; the quoted
    # field exercises RFC4180 escaping on the way back out
    lines = ["n,s,q"] + [
        f'{i},row-{i:05d}-{"x" * 40},"a,{i}"' for i in range(rows)
    ]
    return ("\r\n".join(lines) + "\r\n").encode()


def test_keep_alive_requests_have_no_fixed_stall(served):
    """A trivial route on a keep-alive connection answers in a few ms.
    With Nagle on, a response written as headers then body waits for
    the client's delayed ACK: a ~40 ms floor on every request."""
    import statistics
    import time

    c = _conn(served)
    hdrs = {"X-Lagoon-User": "admin"}
    walls = []
    for i in range(22):
        t0 = time.perf_counter()
        c.request("GET", "/sources", headers=hdrs)
        r = c.getresponse()
        assert r.status == 200 and r.read() == b"[]"
        if i >= 2:  # the first requests warm the route
            walls.append(time.perf_counter() - t0)
    c.close()
    assert statistics.median(walls) < 0.020, walls


def test_streamed_bodies_unchanged_by_buffering(served, lagoon):
    """De-chunked `/sql` bodies (csv, json, json_array) and a
    `/download` body over one keep-alive connection are exactly the
    engine's stream, and the download byte-roundtrips the upload."""
    raw = _big_csv()
    _, _, info = _req(served, "POST", "/sources?name=big", body=raw)
    assert info["numRows"] == 4000
    c = _conn(served)
    hdrs = {"X-Lagoon-User": "admin"}

    c.request("GET", f"/source/{info['ix']}/download", headers=hdrs)
    r = c.getresponse()
    assert r.getheader("Transfer-Encoding") == "chunked"
    assert r.read() == raw

    q = "SELECT n, s, q FROM big_v1_typed ORDER BY n"
    for fmt in ("csv", "json", "json_array"):
        c.request("POST", f"/sql?format={fmt}", body=q.encode(), headers=hdrs)
        r = c.getresponse()
        assert r.status == 200 and r.getheader("Transfer-Encoding") == "chunked"
        body = r.read()
        assert len(body) > 3 * (1 << 16)
        assert body == "".join(lagoon.export_query(q, fmt=fmt)).encode(), fmt
        if fmt == "csv":
            assert body == raw
        elif fmt == "json_array":
            rows = json.loads(body)
            assert len(rows) == 4000 and rows[7] == {
                "n": 7, "s": f"row-00007-{'x' * 40}", "q": "a,7",
            }
    c.close()


def test_denied_sql_is_a_bare_403(served):
    """A denied query fails before any byte of a 200 is written: the
    connection carries exactly one status line, a 403 with a JSON
    error body, and is then closed."""
    import socket
    from urllib.parse import urlparse

    _req(served, "POST", "/sources?name=mine", body=b"a\n1\n", user="alice")
    u = urlparse(served)
    for user, sql in (("admin", b"DROP TABLE mine_v1"),
                      ("bob", b"SELECT * FROM mine_v1")):
        s = socket.create_connection((u.hostname, u.port), timeout=60)
        s.sendall(
            b"POST /sql HTTP/1.1\r\nHost: x\r\nX-Lagoon-User: " + user.encode()
            + b"\r\nContent-Length: " + str(len(sql)).encode() + b"\r\n\r\n" + sql
        )
        got = b""
        while chunk := s.recv(1 << 16):  # the server closes after an error
            got += chunk
        s.close()
        head, _, body = got.partition(b"\r\n\r\n")
        assert head.startswith(b"HTTP/1.1 403 ") and got.count(b"HTTP/1.1") == 1
        assert b"Transfer-Encoding" not in head
        assert "error" in json.loads(body)


def test_sql_metadata_views_follow_rest_writes(served):
    """`lagoon_sources` / `lagoon_tags` see a dataset ingested and a
    tag added over REST after the view memo warmed."""
    _req(served, "POST", "/sources?name=first", body=b"a\n1\n")
    q = b"SELECT name FROM lagoon_sources ORDER BY name"
    assert _req(served, "POST", "/sql?format=json_array", body=q)[2] == [
        {"name": "first"}
    ]
    _, _, second = _req(served, "POST", "/sources?name=second", body=b"a\n2\n")
    assert _req(served, "POST", "/sql?format=json_array", body=q)[2] == [
        {"name": "first"}, {"name": "second"}
    ]
    _req(served, "POST", f"/source/{second['ix']}/tags", body=["fresh"])
    st, _, tags = _req(
        served, "POST", "/sql?format=json_array",
        body=b"SELECT source_ix, tag FROM lagoon_tags",
    )
    assert tags == [{"source_ix": second["ix"], "tag": "fresh"}]


def test_sql_on_warm_memo_registers_no_metadata_views(served, monkeypatch):
    """`Lagoon.sql` owns metadata-view registration: a `/sql` request
    against an unchanged catalog rebuilds none of the views."""
    from lagoon_spark.engine import Lagoon

    _req(served, "POST", "/sources?name=spy", body=b"a\n1\n")
    q = b"SELECT COUNT(*) AS n FROM lagoon_sources"
    assert _req(served, "POST", "/sql?format=json", body=q)[2] == {"n": 1}
    calls = []
    real = Lagoon.register_metadata_views
    monkeypatch.setattr(
        Lagoon, "register_metadata_views",
        lambda self: (calls.append(1), real(self))[1],
    )
    assert _req(served, "POST", "/sql?format=json", body=q)[2] == {"n": 1}
    assert calls == []
