"""Iceberg REST protocol catalog (catalog/iceberg_rest.py): real HTTP
client + service, with server-side CommitTableRequest application — the
protocol the reference's generated client speaks (iceberg-rest-catalog/).
"""

import threading

import pytest

from iceberg_rust_custom_spark.catalog.base import CommitFailed, Identifier
from iceberg_rust_custom_spark.catalog.iceberg_rest import (
    IcebergRestCatalog,
    IcebergRestCatalogServer,
)


@pytest.fixture()
def service(tmp_path):
    server = IcebergRestCatalogServer(str(tmp_path / "wh"))
    yield server
    server.close()


def test_config_and_namespaces(service):
    cat = IcebergRestCatalog(service.uri)
    assert cat.warehouse == service.warehouse  # discovered via GET /v1/config
    cat.create_namespace(("a", "b"))
    assert ("a", "b") in cat.list_namespaces()


def _metadata_file(tmp_path, name: str) -> str:
    """A metadata document the service can serve on GET (LoadTableResult
    ships its contents)."""
    loc = str(tmp_path / f"{name}.metadata.json")
    with open(loc, "w") as f:
        f.write("{}")
    return loc


def test_register_load_list_drop(service, tmp_path):
    cat = IcebergRestCatalog(service.uri)
    ident = Identifier(("ns",), "t1")
    cat.create_namespace(("ns",))
    assert ("ns",) in cat.list_namespaces()
    loc = _metadata_file(tmp_path, "v1")
    cat.register(ident, loc)
    assert cat.tabular_exists(ident)
    assert cat.load(ident) == (loc, "table")
    assert ident in cat.list_tabulars(("ns",))
    cat.drop(ident)
    assert not cat.tabular_exists(ident)


def test_double_register_conflicts(service, tmp_path):
    """Registering an existing identifier is a 409 → CommitFailed, and the
    first registration stays in place."""
    cat = IcebergRestCatalog(service.uri)
    ident = Identifier(("ns",), "t3")
    first = _metadata_file(tmp_path, "v1")
    cat.register(ident, first)
    with pytest.raises(CommitFailed):
        cat.register(ident, _metadata_file(tmp_path, "v1b"))
    assert cat.load(ident)[0] == first


def test_engine_lifecycle_over_rest_protocol(spark, service, sf_dir):
    """create → insert ×2 → scan → branch → DELETE, all committed through
    POST CommitTableRequest (no client-side pointer swap anywhere)."""
    from iceberg_rust_custom_spark.engine import Engine

    cat = IcebergRestCatalog(service.uri)
    eng = Engine(spark, catalog=cat)
    eng.sql("CREATE TABLE ns.t (id BIGINT, v DOUBLE) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.t VALUES (1, 1.5), (2, 2.5)")
    eng.sql("INSERT INTO ns.t VALUES (3, 3.5)")
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.t").first().n == 3
    t = eng.load_table("ns.t")
    assert len(t.metadata.snapshots) == 2
    eng.sql("DELETE FROM ns.t WHERE id = 2")
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.t").first().n == 2
    # loading through a SECOND client sees the committed state
    eng2 = Engine(spark, catalog=IcebergRestCatalog(service.uri))
    assert eng2.load_table("ns.t").scan().count() == 2


def test_commit_conflict_maps_to_409(spark, service):
    """A stale assert-ref-snapshot-id must come back as HTTP 409 →
    CommitFailed; the engine's bounded retry then lands the append."""
    from iceberg_rust_custom_spark.engine import Engine

    cat = IcebergRestCatalog(service.uri)
    eng = Engine(spark, catalog=cat)
    eng.sql("CREATE TABLE ns.c (id BIGINT) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.c VALUES (1)")
    ident = Identifier.parse("ns.c")
    # hand-roll a stale commit: requirement pins a snapshot that isn't head
    with pytest.raises(CommitFailed):
        cat.commit_updates(
            ident,
            [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 12345}],
            [{"action": "set-properties", "updates": {"k": "v"}}],
        )
    # a correct requirement commits fine
    t = eng.load_table("ns.c")
    head = t.metadata.snapshot_for_ref().snapshot_id
    md = cat.commit_updates(
        ident,
        [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": head}],
        [{"action": "set-properties", "updates": {"k": "v"}}],
    )
    assert md.properties["k"] == "v"


def test_concurrent_appends_one_writer_retries(spark, service):
    """Two engines appending concurrently: the server's per-table lock +
    requirement check forces one to retry; both rows land."""
    from iceberg_rust_custom_spark.engine import Engine

    eng = Engine(spark, catalog=IcebergRestCatalog(service.uri))
    eng.sql("CREATE TABLE ns.r (id BIGINT) STORED AS ICEBERG")
    errs = []

    def insert(v):
        try:
            e = Engine(spark, catalog=IcebergRestCatalog(service.uri))
            e.sql(f"INSERT INTO ns.r VALUES ({v})")
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=insert, args=(v,)) for v in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.r").first().n == 2
    assert len(eng.load_table("ns.r").metadata.snapshots) == 2


def test_views_and_mv_over_rest_protocol(spark, service, sf_dir):
    """Views and materialized views (incl. refresh with lineage commits)
    work unchanged over the REST-protocol catalog."""
    from iceberg_rust_custom_spark.engine import Engine

    eng = Engine(spark, catalog=IcebergRestCatalog(service.uri))
    eng.sql("CREATE TABLE ns.src (k BIGINT, amt DOUBLE) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.src VALUES (1, 10.0), (1, 5.0), (2, 7.0)")
    eng.sql("CREATE VIEW ns.v AS SELECT k, SUM(amt) AS total FROM ns.src GROUP BY k")
    assert {(r.k, r.total) for r in eng.sql("SELECT * FROM ns.v").collect()} == {(1, 15.0), (2, 7.0)}
    eng.sql("CREATE MATERIALIZED VIEW ns.mv AS SELECT k, SUM(amt) AS total FROM ns.src GROUP BY k")
    assert eng.materialized_view_freshness("ns.mv")["ns.src"] == "fresh"
    eng.sql("INSERT INTO ns.src VALUES (2, 3.0)")
    assert eng.materialized_view_freshness("ns.mv")["ns.src"] == "outdated"
    eng.sql("REFRESH MATERIALIZED VIEW ns.mv")
    got = {(r.k, r.total) for r in eng.sql("SELECT * FROM ns.mv").collect()}
    assert got == {(1, 15.0), (2, 10.0)}


def test_pagination_and_head_routes(service):
    """Spec completeness (VERDICT r4 item 8): pageSize/pageToken pagination
    on list endpoints, HEAD namespace/table exists probes, spec-shaped
    error JSON with a type field."""
    import json
    import urllib.error
    import urllib.request

    cat = IcebergRestCatalog(service.uri)
    for i in range(7):
        cat.create_namespace(("nsp", f"n{i}"))
    # client drains pages transparently
    assert len([n for n in cat.list_namespaces(page_size=3) if n[0] == "nsp"]) == 7

    # raw page shape: next-page-token present until the last page
    with urllib.request.urlopen(service.uri + "/v1/namespaces?pageSize=3") as r:
        page1 = json.load(r)
    assert len(page1["namespaces"]) == 3 and page1["next-page-token"]
    tok = page1["next-page-token"]
    with urllib.request.urlopen(
        service.uri + f"/v1/namespaces?pageSize=100&pageToken={tok}"
    ) as r:
        page2 = json.load(r)
    assert "next-page-token" not in page2
    assert len(page1["namespaces"]) + len(page2["namespaces"]) == 7

    # paginated table listing
    for i in range(5):
        cat.register(Identifier(("nsp", "n0"), f"t{i}"), f"/tmp/meta{i}.json")
    idents = cat.list_tabulars(("nsp", "n0"), page_size=2)
    assert [i.name for i in idents] == ["t0", "t1", "t2", "t3", "t4"]

    # HEAD namespace exists
    assert cat.namespace_exists(("nsp", "n0"))
    assert not cat.namespace_exists(("nope",))
    # HEAD table exists
    assert cat.tabular_exists(Identifier(("nsp", "n0"), "t0"))
    assert not cat.tabular_exists(Identifier(("nsp", "n0"), "missing"))

    # spec ErrorModel: {"error": {"message", "type", "code"}}
    try:
        urllib.request.urlopen(service.uri + "/v1/namespaces/nope%1Fdeep/tables/x")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        err = json.loads(e.read())["error"]
        assert e.code == 404 and err["code"] == 404
        assert err["type"] == "NoSuchTableException" and err["message"]


def test_metrics_endpoint(service):
    """POST /tables/{t}/metrics accepts a scan-report (204) and stores it
    service-side; unknown table -> 404 ErrorModel."""
    cat = IcebergRestCatalog(service.uri)
    cat.create_namespace(("m",))
    cat.register(Identifier(("m",), "t"), "/tmp/meta.json")
    cat.report_metrics(
        Identifier(("m",), "t"),
        {"manifests_total": 4, "manifests_pruned": 3, "files_planned": 7, "bytes_planned": 123},
    )
    stored = service._metrics[("m", "t")]
    assert stored and stored[0]["metrics"]["files_planned"] == 7
    with pytest.raises(FileNotFoundError):
        cat.report_metrics(Identifier(("m",), "nope"), {})


def test_view_replace_over_rest_protocol(spark, service):
    """CREATE OR REPLACE VIEW over the REST-protocol catalog: view updates
    route through the server-side view-commit (CAS on metadata location,
    409 on conflict) since the protocol has no client-side pointer swap."""
    from iceberg_rust_custom_spark.engine import Engine

    cat = IcebergRestCatalog(service.uri)
    eng = Engine(spark, catalog=cat)
    eng.sql("CREATE TABLE ns.vt (id BIGINT) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.vt VALUES (1), (2), (3)")
    eng.sql("CREATE VIEW ns.vv AS SELECT id FROM ns.vt WHERE id > 1")
    assert eng.scan_view("ns.vv").count() == 2
    eng.sql("CREATE OR REPLACE VIEW ns.vv AS SELECT id FROM ns.vt")
    assert eng.scan_view("ns.vv").count() == 3
    md = eng._load_view_metadata("ns.vv")
    assert md.current_version_id == 2
    # stale swap -> 409 -> CommitFailed
    loc, _ = cat.load(Identifier(("ns",), "vv"))
    with pytest.raises(CommitFailed):
        cat.swap(Identifier(("ns",), "vv"), "/stale/location.json", loc)


def test_rename_route(service):
    """Atomic server-side rename (POST /v1/tables/rename): registry move
    under the service lock; 404 on missing source, 409 on existing dest."""
    import json as _json
    import os as _os

    cat = IcebergRestCatalog(service.uri)
    cat.create_namespace(("r",))
    meta = _os.path.join(service.warehouse, "a.json")
    with open(meta, "w") as f:
        _json.dump({}, f)
    cat.register(Identifier(("r",), "a"), meta)
    cat.rename(Identifier(("r",), "a"), Identifier(("r",), "b"))
    assert not cat.tabular_exists(Identifier(("r",), "a"))
    loc, kind = cat.load(Identifier(("r",), "b"))
    assert loc == meta and kind == "table"
    with pytest.raises(FileNotFoundError):
        cat.rename(Identifier(("r",), "a"), Identifier(("r",), "c"))
    cat.register(Identifier(("r",), "a"), meta)
    with pytest.raises(CommitFailed):
        cat.rename(Identifier(("r",), "a"), Identifier(("r",), "b"))
