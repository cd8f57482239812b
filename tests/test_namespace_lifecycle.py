"""Namespace lifecycle across every catalog backend.

Reference surface: the Catalog trait's create/load/update/drop namespace
operations (iceberg-rust/src/catalog/mod.rs:34-52) and the REST crate's
namespace-properties and delete routes (iceberg-rest-catalog/src/). One
parametrized round-trip — create-with-properties → load → update
(set + remove) → drop-non-empty refused → drop → gone — runs against all
five backends, including the Iceberg REST client/server pair over a real
socket.
"""

import pytest

from iceberg_rust_custom_spark.catalog.base import Identifier, NamespaceNotEmpty
from iceberg_rust_custom_spark.catalog.file_catalog import FileCatalog
from iceberg_rust_custom_spark.catalog.glue_catalog import FakeGlueClient, GlueCatalog
from iceberg_rust_custom_spark.catalog.iceberg_rest import (
    IcebergRestCatalog,
    IcebergRestCatalogServer,
)
from iceberg_rust_custom_spark.catalog.object_store import InMemoryObjectStore, ObjectStoreCatalog
from iceberg_rust_custom_spark.catalog.sql_catalog import SqlCatalog

BACKENDS = ["file", "sql", "object_store", "glue", "iceberg_rest"]


@pytest.fixture()
def catalog(request, tmp_path):
    kind = request.param
    if kind == "file":
        yield FileCatalog(str(tmp_path / "wh"))
    elif kind == "sql":
        yield SqlCatalog(str(tmp_path / "cat.db"))
    elif kind == "object_store":
        yield ObjectStoreCatalog(InMemoryObjectStore(), warehouse=str(tmp_path / "wh"))
    elif kind == "glue":
        yield GlueCatalog(FakeGlueClient())
    elif kind == "iceberg_rest":
        server = IcebergRestCatalogServer(str(tmp_path / "wh"))
        try:
            yield IcebergRestCatalog(server.uri)
        finally:
            server.close()


def _register_probe(catalog, tmp_path, ns):
    """Register a tabular so the namespace is non-empty; returns its id."""
    ident = Identifier(ns, "probe")
    loc = str(tmp_path / "probe.metadata.json")
    with open(loc, "w") as f:
        f.write("{}")
    catalog.register(ident, loc)
    return ident


@pytest.mark.parametrize("catalog", BACKENDS, indirect=True)
def test_namespace_round_trip(catalog, tmp_path):
    ns = ("warehouse", "raw")
    catalog.create_namespace(ns, {"owner": "data-eng", "retention": "90d"})
    assert catalog.namespace_exists(ns)
    assert catalog.load_namespace(ns) == {"owner": "data-eng", "retention": "90d"}

    # update: removals apply before updates (REST spec order)
    props = catalog.update_namespace(
        ns, updates={"owner": "ml-platform", "tier": "gold"}, removals=["retention"]
    )
    assert props == {"owner": "ml-platform", "tier": "gold"}
    assert catalog.load_namespace(ns) == props

    # drop refuses while a tabular remains
    ident = _register_probe(catalog, tmp_path, ns)
    with pytest.raises(NamespaceNotEmpty):
        catalog.drop_namespace(ns)
    catalog.drop(ident)
    catalog.drop_namespace(ns)
    assert not catalog.namespace_exists(ns)
    with pytest.raises(FileNotFoundError):
        catalog.load_namespace(ns)


@pytest.mark.parametrize("catalog", BACKENDS, indirect=True)
def test_unknown_namespace_raises(catalog):
    with pytest.raises(FileNotFoundError):
        catalog.load_namespace(("nope",))
    with pytest.raises(FileNotFoundError):
        catalog.drop_namespace(("nope",))


@pytest.mark.parametrize("catalog", BACKENDS, indirect=True)
def test_create_existing_namespace_merges_properties(catalog):
    """Divergence fix (ADVICE r6): re-creating an existing namespace with
    properties MERGES them identically on every backend."""
    ns = ("ns1",)
    catalog.create_namespace(ns, {"a": "1"})
    catalog.create_namespace(ns, {"b": "2"})
    assert catalog.load_namespace(ns) == {"a": "1", "b": "2"}


@pytest.mark.parametrize("catalog", ["file", "sql", "object_store", "glue"], indirect=True)
def test_drop_refuses_child_namespaces(catalog):
    """Hierarchical backends refuse to drop a namespace with children."""
    catalog.create_namespace(("a",))
    catalog.create_namespace(("a", "b"))
    with pytest.raises(NamespaceNotEmpty):
        catalog.drop_namespace(("a",))
    catalog.drop_namespace(("a", "b"))
    catalog.drop_namespace(("a",))


@pytest.mark.parametrize("catalog", BACKENDS, indirect=True)
def test_drop_keeps_the_namespace_of_the_same_name(catalog, tmp_path):
    """Table ``ns.t`` and namespace ``ns.t`` share a name: dropping the
    table leaves the namespace's properties and its tabulars alone."""
    loc = str(tmp_path / "m.metadata.json")
    with open(loc, "w") as f:
        f.write("{}")
    catalog.create_namespace(("ns",))
    catalog.create_namespace(("ns", "t"), {"k": "v"})
    table, inner = Identifier(("ns",), "t"), Identifier(("ns", "t"), "x")
    catalog.register(table, loc)
    catalog.register(inner, loc)
    catalog.drop(table)
    assert not catalog.tabular_exists(table)
    assert catalog.tabular_exists(inner) and catalog.load(inner)[0] == loc
    assert catalog.list_tabulars(("ns", "t")) == [inner]
    assert catalog.load_namespace(("ns", "t")) == {"k": "v"}


@pytest.mark.parametrize("catalog", BACKENDS, indirect=True)
def test_missing_tabular_raises_file_not_found(catalog):
    """One contract for an absent tabular: load and swap raise
    FileNotFoundError on every backend."""
    catalog.create_namespace(("ns",))
    ghost = Identifier(("ns",), "ghost")
    assert not catalog.tabular_exists(ghost)
    with pytest.raises(FileNotFoundError):
        catalog.load(ghost)
    with pytest.raises(FileNotFoundError):
        catalog.swap(ghost, "a.json", "b.json")


def test_file_catalog_concurrent_property_updates_merge(tmp_path):
    """The default catalog's versioned put-if-absent property protocol
    must not lose a concurrent writer's update (ADVICE r6: the old
    read-modify-write os.replace did)."""
    import threading

    cat = FileCatalog(str(tmp_path / "wh"))
    cat.create_namespace(("ns",))
    barrier = threading.Barrier(2)

    def writer(key):
        barrier.wait()
        cat.update_namespace(("ns",), updates={key: "v"})

    threads = [threading.Thread(target=writer, args=(k,)) for k in ("left", "right")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert cat.load_namespace(("ns",)) == {"left": "v", "right": "v"}


def test_iceberg_rest_update_response_shape(tmp_path):
    """The spec's UpdateNamespacePropertiesResponse lists updated/removed/
    missing keys; removing an absent key lands in `missing`, not an error."""
    server = IcebergRestCatalogServer(str(tmp_path / "wh"))
    try:
        cat = IcebergRestCatalog(server.uri)
        cat.create_namespace(("ns",), {"a": "1"})
        out = cat._call(
            "POST",
            "/v1/namespaces/ns/properties",
            {"removals": ["a", "ghost"], "updates": {"b": "2"}},
        )
        assert out == {"updated": ["b"], "removed": ["a"], "missing": ["ghost"]}
    finally:
        server.close()


# ------------------------------------------------------------------- DDL


def test_namespace_ddl_round_trip(spark, tmp_path):
    from iceberg_rust_custom_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.sql("CREATE NAMESPACE lake WITH PROPERTIES ('owner'='de', 'tier'='raw')")
    rows = {r.key: r.value for r in eng.sql("DESCRIBE NAMESPACE lake").collect()}
    assert rows == {"owner": "de", "tier": "raw"}

    eng.sql("ALTER NAMESPACE lake SET PROPERTIES ('tier'='silver')")
    eng.sql("ALTER NAMESPACE lake UNSET PROPERTIES ('owner')")
    rows = {r.key: r.value for r in eng.sql("DESCRIBE NAMESPACE lake").collect()}
    assert rows == {"tier": "silver"}

    eng.sql("CREATE TABLE lake.t (id BIGINT) STORED AS ICEBERG")
    with pytest.raises(NamespaceNotEmpty):
        eng.sql("DROP NAMESPACE lake")
    eng.sql("DROP TABLE lake.t")
    eng.sql("DROP NAMESPACE lake")
    assert ("lake",) not in eng.catalog.list_namespaces()
    eng.sql("DROP NAMESPACE IF EXISTS lake")  # idempotent, no raise
