"""REST catalog client against a real local HTTP server serving the
Iceberg REST subset the reference's CI uses (metadata-location
resolution -> iceberg_scan), with golden row counts."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from conftest import REFERENCE_DATA, requires_reference

LI = f"{REFERENCE_DATA}/lineitem_iceberg"


class _Handler(BaseHTTPRequestHandler):
    routes = {
        "/v1/config": {"defaults": {}, "overrides": {}},
        "/v1/namespaces": {"namespaces": [["default"]]},
        "/v1/namespaces/default/tables": {
            "identifiers": [{"namespace": ["default"], "name": "lineitem"}]
        },
        "/v1/namespaces/default/tables/lineitem": {
            "metadata-location": f"{LI}/metadata/v2.metadata.json",
            "metadata": {},
        },
    }

    seen_auth = []
    token_posts = []

    def do_POST(self):
        if self.path.split("?")[0] != "/v1/oauth/tokens":
            self.send_response(404)
            self.end_headers()
            return
        import urllib.parse

        n = int(self.headers.get("Content-Length", 0))
        form = urllib.parse.parse_qs(self.rfile.read(n).decode())
        _Handler.token_posts.append(form)
        body = json.dumps({"access_token": "tok-123", "token_type": "bearer"}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        _Handler.seen_auth.append(self.headers.get("Authorization"))
        doc = self.routes.get(self.path.split("?")[0])
        if doc is None:
            self.send_response(404)
            self.end_headers()
            return
        body = json.dumps(doc).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def rest_uri():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_rest_catalog_listing(rest_uri):
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    cat = RestCatalog(rest_uri)
    assert cat.config() == {"defaults": {}, "overrides": {}}
    assert cat.list_namespaces() == [("default",)]
    assert cat.list_tables("default") == ["lineitem"]
    assert cat.metadata_location("default", "lineitem").endswith("v2.metadata.json")


@requires_reference
def test_rest_catalog_scan_golden(spark, rest_uri):
    """The start-rest-catalog.sh flow: REST metadata-location ->
    iceberg_scan; golden count 51793 (BASELINE.md)."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    cat = RestCatalog(rest_uri)
    assert cat.scan(spark, "default", "lineitem", allow_moved_paths=True).count() == 51793
    snaps = cat.snapshots(spark, "default", "lineitem")
    assert snaps.count() == 2


def test_rest_catalog_missing_location(rest_uri):
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    _Handler.routes["/v1/namespaces/default/tables/empty"] = {"metadata": {}}
    with pytest.raises(ValueError, match="no metadata-location"):
        RestCatalog(rest_uri).metadata_location("default", "empty")


def test_rest_catalog_oauth2_client_credentials(rest_uri):
    """credential="id:secret" is exchanged at /v1/oauth/tokens once
    and the bearer lands on every subsequent request (DuckDB ICEBERG
    secret CLIENT_ID/CLIENT_SECRET parity)."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    _Handler.seen_auth = []
    _Handler.token_posts = []
    cat = RestCatalog(rest_uri, credential="my-client:my-secret")
    assert cat.list_namespaces() == [("default",)]
    assert cat.list_tables("default") == ["lineitem"]
    # one token POST, correct form fields
    assert len(_Handler.token_posts) == 1
    form = _Handler.token_posts[0]
    assert form["grant_type"] == ["client_credentials"]
    assert form["client_id"] == ["my-client"]
    assert form["client_secret"] == ["my-secret"]
    # bearer attached to both GETs
    assert _Handler.seen_auth[-2:] == ["Bearer tok-123", "Bearer tok-123"]


def test_rest_catalog_static_token_header(rest_uri):
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    _Handler.seen_auth = []
    RestCatalog(rest_uri, token="static-tok").list_namespaces()
    assert _Handler.seen_auth[-1] == "Bearer static-tok"


def test_sigv4_signature_deterministic():
    """Pinned SigV4 vector: fixed keys + timestamp -> stable signature
    (regression guard over the canonicalization/signing chain)."""
    import datetime

    from duckdb_iceberg_spark.sources.rest_catalog import sigv4_headers

    h = sigv4_headers(
        "GET",
        "https://example.amazonaws.com/v1/namespaces?parent=a b",
        access_key="AKIDEXAMPLE",
        secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
        region="us-east-1",
        service="execute-api",
        now=datetime.datetime(2015, 8, 30, 12, 36, 0, tzinfo=datetime.timezone.utc),
    )
    assert h["x-amz-date"] == "20150830T123600Z"
    # sha256 of the empty payload
    assert h["x-amz-content-sha256"] == (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )
    assert h["Authorization"] == (
        "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/execute-api/aws4_request, "
        "SignedHeaders=host;x-amz-content-sha256;x-amz-date, "
        "Signature=2e59d855cf90b6fe98470bf3fb26e470fd9c6509ba15ea29eb52ab3286e15ebd"
    )


def test_rest_catalog_sigv4_and_bearer_header_shapes(rest_uri):
    """The server sees a well-formed Authorization header on both auth
    paths: 'Bearer <tok>' and a full SigV4 credential scope with the
    session token as its own signed header."""
    import re

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    _Handler.seen_auth.clear()
    _Handler.seen_headers = []
    orig = _Handler.do_GET

    def capture(self):
        _Handler.seen_headers.append(dict(self.headers))
        orig(self)

    _Handler.do_GET = capture
    try:
        RestCatalog(rest_uri, token="tok-abc").list_namespaces()
        cat = RestCatalog(
            rest_uri,
            aws_access_key_id="AKIDEXAMPLE",
            aws_secret_access_key="secret",
            aws_session_token="sess-token",
            aws_region="eu-west-1",
        )
        cat.list_namespaces()
    finally:
        _Handler.do_GET = orig
    bearer, sig = _Handler.seen_auth[-2], _Handler.seen_auth[-1]
    assert bearer == "Bearer tok-abc"
    assert re.fullmatch(
        r"AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/\d{8}/eu-west-1/execute-api/aws4_request, "
        r"SignedHeaders=host;x-amz-content-sha256;x-amz-date;x-amz-security-token, "
        r"Signature=[0-9a-f]{64}",
        sig,
    )
    hdrs = {k.lower(): v for k, v in _Handler.seen_headers[-1].items()}
    assert hdrs.get("x-amz-security-token") == "sess-token"
    assert re.fullmatch(r"\d{8}T\d{6}Z", hdrs.get("x-amz-date", ""))


@pytest.fixture()
def local_catalog():
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    yield srv
    srv.stop()


def test_rest_catalog_create_append_scan_roundtrip(spark, local_catalog, tmp_path):
    """The full catalog-managed write flow: create (register) ->
    commit_append (requirements + add-snapshot/set-snapshot-ref) ->
    scan through the catalog's NEW metadata-location. The catalog is
    the pointer owner: its table load reflects each commit."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    cat = RestCatalog(local_catalog.uri, credential="dev:secret")
    df1 = spark.range(5).selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS v")
    cat.create_table(spark, "default", "t1", df1, str(tmp_path / "t1"))
    assert cat.list_tables("default") == ["t1"]
    assert cat.scan(spark, "default", "t1").count() == 5

    df2 = spark.range(5, 12).selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS v")
    new_loc = cat.commit_append(spark, "default", "t1", df2)
    assert new_loc.endswith("-rest.metadata.json")
    assert cat.metadata_location("default", "t1") == new_loc
    got = sorted(r["k"] for r in cat.scan(spark, "default", "t1").collect())
    assert got == list(range(12))
    # two snapshots visible through the catalog pointer
    assert cat.snapshots(spark, "default", "t1").count() == 2


def test_rest_catalog_commit_conflict_409(spark, local_catalog, tmp_path):
    """A commit whose assert-ref-snapshot-id is stale gets 409 from the
    catalog and surfaces as CommitConflictError (optimistic concurrency
    parity with the filesystem CAS path)."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.writer import CommitConflictError

    cat = RestCatalog(local_catalog.uri)
    df = spark.range(3).selectExpr("id AS k")
    cat.create_table(spark, "default", "t2", df, str(tmp_path / "t2"))
    # sabotage the catalog's pointer to an older state: re-register the
    # ORIGINAL v1 metadata (no snapshots) so the client's requirement
    # (built from the latest local state) no longer matches
    v1 = str(tmp_path / "t2" / "metadata" / "v1.metadata.json")
    cat.register_table("default", "t2", v1)
    with pytest.raises(CommitConflictError, match="409"):
        cat.commit_append(spark, "default", "t2", df)


def test_sigv4_config_validation():
    import pytest

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog

    with pytest.raises(ValueError, match="aws_region"):
        RestCatalog("http://x", aws_access_key_id="k", aws_secret_access_key="s")
    with pytest.raises(ValueError, match="not both"):
        RestCatalog(
            "http://x",
            token="t",
            aws_access_key_id="k",
            aws_secret_access_key="s",
            aws_region="r",
        )


def test_rest_listing_pagination_and_parent():
    """list_namespaces/list_tables drain next-page-token across pages
    (Iceberg REST spec pagination — real catalogs cap page sizes
    server-side, so a first-page-only client truncates the catalog),
    and `parent=` returns children exactly one level down."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        for i in range(7):
            cat.register_table("ns_a", f"t{i}", f"/tmp/x/t{i}.metadata.json")
        cat.register_table("ns_b", "solo", "/tmp/x/solo.metadata.json")
        cat.register_table("ns_a.child1", "c", "/tmp/x/c.metadata.json")
        cat.register_table("ns_a.child2", "d", "/tmp/x/d.metadata.json")
        # page_size=2 over 7 tables = 4 pages, all drained in order
        assert cat.list_tables("ns_a", page_size=2) == [f"t{i}" for i in range(7)]
        assert cat.list_tables("ns_a", page_size=2) == cat.list_tables("ns_a")
        names = cat.list_namespaces(page_size=1)
        assert names == cat.list_namespaces()
        assert ("ns_b",) in names and ("ns_a",) in names
        # parent filtering: exactly the one-level-down children
        kids = cat.list_namespaces(parent="ns_a", page_size=1)
        assert kids == [("ns_a", "child1"), ("ns_a", "child2")]
    finally:
        srv.stop()


def test_rest_require_auth_401_and_oauth_path():
    """With require_auth the server rejects anonymous requests (401)
    but the client's OAuth2 client-credentials exchange obtains the
    bearer token and every subsequent call succeeds."""
    import urllib.error

    import pytest

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer(require_auth=True)
    srv.start()
    try:
        anon = RestCatalog(srv.uri)
        with pytest.raises(urllib.error.HTTPError) as ei:
            anon.list_namespaces()
        assert ei.value.code == 401
        wrong = RestCatalog(srv.uri, token="not-the-token")
        with pytest.raises(urllib.error.HTTPError):
            wrong.list_namespaces()
        cat = RestCatalog(srv.uri, credential="dev:secret")
        cat.register_table("default", "t", "/tmp/x/t.metadata.json")
        assert cat.list_tables("default") == ["t"]
    finally:
        srv.stop()


def test_rest_toplevel_listing_excludes_nested():
    """GET /v1/namespaces WITHOUT parent returns first-level
    namespaces only (Iceberg REST spec) — a client recursing with
    parent= must not see ns_a.child alongside ns_a. Garbage
    pageToken/pageSize gets a 400, not a dropped connection."""
    import json as _json
    import urllib.error
    import urllib.request

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        cat.register_table("ns_a", "t", "/tmp/x/t.metadata.json")
        cat.register_table("ns_a.child1", "c", "/tmp/x/c.metadata.json")
        cat.register_table("ns_b", "s", "/tmp/x/s.metadata.json")
        assert cat.list_namespaces() == [("ns_a",), ("ns_b",)]
        # pageSize=0 must 400 too: an empty page whose next-page-token
        # equals the request's own offset would loop a spec client forever
        for q in ("pageToken=bogus", "pageSize=0"):
            try:
                with urllib.request.urlopen(f"{srv.uri}/v1/namespaces?{q}") as r:
                    raise AssertionError(f"expected 400 for {q}, got {r.status}")
            except urllib.error.HTTPError as e:
                assert e.code == 400
                assert "page" in _json.loads(e.read())["error"]["message"]
    finally:
        srv.stop()


def test_rest_commit_ddl_and_expiration(spark, tmp_path):
    """The generic RestCatalog.commit diffs metadata before/after a
    native-writer mutation and POSTs spec update types; the SERVER
    applies add-schema / set-current-schema / remove-snapshots /
    set-properties / remove-properties to ITS authoritative copy, and
    the catalog-resolved scan reflects each one."""
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        cat.create_table(spark, "default", "nat", n, str(tmp_path / "t"))
        # DML through the catalog
        cat.commit(spark, "default", "nat", lambda t: t.delete_where("n_nationkey >= 20"))
        # DDL: new schema must reach the catalog copy
        cat.commit(spark, "default", "nat", lambda t: t.add_column("flag", "int", default=7))
        df = cat.scan(spark, "default", "nat")
        assert "flag" in df.columns
        rows = df.collect()
        assert {r.n_nationkey for r in rows} == {
            r.n_nationkey for r in n.collect() if r.n_nationkey < 20
        }
        assert {r.flag for r in rows} == {7}
        # properties + snapshot expiration
        cat.commit(spark, "default", "nat", lambda t: t.set_properties({"owner": "pipeline"}))
        mdoc = load_table_metadata(cat.metadata_location("default", "nat")).raw
        assert mdoc["properties"]["owner"] == "pipeline"
        before = len(mdoc["snapshots"])
        cat.commit(spark, "default", "nat", lambda t: t.expire_snapshots(keep_last=1))
        mdoc = load_table_metadata(cat.metadata_location("default", "nat")).raw
        assert len(mdoc["snapshots"]) < before
        # the catalog copy still scans to the same rows
        rows2 = cat.scan(spark, "default", "nat").collect()
        assert {r.n_nationkey for r in rows2} == {r.n_nationkey for r in rows}
    finally:
        srv.stop()


def test_rest_catalog_ddl_lifecycle(spark, tmp_path):
    """Catalog DDL round trip (the surface tabulario/iceberg-rest
    serves the reference's CI): create-namespace (409 on duplicate) ->
    create table -> rename across namespaces (404 missing source /
    409 existing destination) -> drop-table (404 after) ->
    drop-namespace (409 while non-empty, 204 once empty)."""
    import urllib.error

    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer
    from duckdb_iceberg_spark.writer import CommitConflictError

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        cat.create_namespace("stage", {"owner": "etl"})
        cat.create_namespace("warehouse")
        assert cat.namespace_properties("stage") == {"owner": "etl"}
        with pytest.raises(CommitConflictError):
            cat.create_namespace("stage")  # duplicate -> 409
        assert ("stage",) in cat.list_namespaces() and ("warehouse",) in cat.list_namespaces()
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        cat.create_table(spark, "stage", "nat", n, str(tmp_path / "nat"))
        # rename across namespaces
        cat.rename_table("stage", "nat", "warehouse", "nat_final")
        assert cat.list_tables("stage") == []
        assert cat.list_tables("warehouse") == ["nat_final"]
        assert cat.scan(spark, "warehouse", "nat_final").count() == 25
        with pytest.raises(urllib.error.HTTPError) as e:
            cat.rename_table("stage", "nat", "warehouse", "x")  # gone source
        assert e.value.code == 404
        cat.register_table("warehouse", "other", str(tmp_path / "nat/metadata/v1.metadata.json"))
        with pytest.raises(CommitConflictError):
            cat.rename_table("warehouse", "other", "warehouse", "nat_final")  # dest exists
        # drop-namespace refuses while tables remain
        with pytest.raises(CommitConflictError):
            cat.drop_namespace("warehouse")
        cat.drop_table("warehouse", "nat_final")
        cat.drop_table("warehouse", "other")
        with pytest.raises(urllib.error.HTTPError) as e:
            cat.load_table("warehouse", "nat_final")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            cat.drop_table("warehouse", "nat_final")  # already gone
        assert e.value.code == 404
        cat.drop_namespace("warehouse")
        cat.drop_namespace("stage")
        assert ("warehouse",) not in cat.list_namespaces()
    finally:
        srv.stop()


def test_rest_transaction_commit_atomic(spark, tmp_path):
    """/v1/transactions/commit: two tables advance in ONE atomic
    commit; a transaction containing one stale requirement applies
    NOTHING (both pointers unchanged), unlike two sequential
    single-table commits that would leave the first applied."""
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer
    from duckdb_iceberg_spark.writer import CommitConflictError

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        r = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        cat.create_table(spark, "default", "a", n.filter("n_nationkey < 10"), str(tmp_path / "a"))
        cat.create_table(spark, "default", "b", r.limit(2), str(tmp_path / "b"))
        cat.commit_transaction(
            spark,
            [
                ("default", "a", lambda t: t.append(n.filter("n_nationkey >= 10"))),
                ("default", "b", lambda t: t.append(r.exceptAll(r.limit(2)))),
            ],
        )
        assert cat.scan(spark, "default", "a").count() == 25
        assert cat.scan(spark, "default", "b").count() == 5
        loc_a = cat.metadata_location("default", "a")
        loc_b = cat.metadata_location("default", "b")
        # hand-build a transaction whose SECOND table has a stale
        # requirement: table a's change is valid, so a non-atomic
        # server would apply it before failing on b
        good = cat._table_change(spark, "default", "a", lambda t: t.append(n.limit(1)))
        stale = {
            "identifier": {"namespace": ["default"], "name": "b"},
            "requirements": [
                {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 12345}
            ],
            "updates": [],
        }
        with pytest.raises(CommitConflictError):
            cat._request(
                "POST", "/v1/transactions/commit", {"table-changes": [good, stale]}
            )
        assert cat.metadata_location("default", "a") == loc_a  # nothing applied
        assert cat.metadata_location("default", "b") == loc_b
    finally:
        srv.stop()


def test_rest_commit_propagates_branch_refs(spark, tmp_path):
    """Write-audit-publish THROUGH the catalog: staging on a branch
    propagates the branch ref (set-snapshot-ref audit) to the catalog
    copy without moving main; fast-forwarding publishes and the
    catalog's main advances; deleting the ref emits
    remove-snapshot-ref."""
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.rest_catalog import RestCatalog
    from duckdb_iceberg_spark.sources.rest_server import LocalRestCatalogServer

    srv = LocalRestCatalogServer()
    srv.start()
    try:
        cat = RestCatalog(srv.uri)
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        cat.create_table(spark, "default", "t", n.filter("n_nationkey < 20"), str(tmp_path / "t"))
        head = load_table_metadata(cat.metadata_location("default", "t")).raw[
            "current-snapshot-id"
        ]
        cat.commit(
            spark, "default", "t", lambda t: t.append(n.filter("n_nationkey >= 20"), to_branch="audit")
        )
        doc = load_table_metadata(cat.metadata_location("default", "t")).raw
        assert doc["current-snapshot-id"] == head  # main untouched
        assert doc["refs"]["audit"]["type"] == "branch"
        assert cat.scan(spark, "default", "t").count() == 20
        cat.commit(spark, "default", "t", lambda t: t.fast_forward("audit"))
        doc = load_table_metadata(cat.metadata_location("default", "t")).raw
        assert doc["current-snapshot-id"] == doc["refs"]["audit"]["snapshot-id"]
        assert cat.scan(spark, "default", "t").count() == 25
        cat.commit(spark, "default", "t", lambda t: t.drop_ref("audit"))
        doc = load_table_metadata(cat.metadata_location("default", "t")).raw
        assert "audit" not in doc.get("refs", {})
    finally:
        srv.stop()
