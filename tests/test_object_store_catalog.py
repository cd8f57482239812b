"""ObjectStoreCatalog: the put-if-absent CAS commit protocol over an
object-store surface (catalog/object_store.py), with the in-memory
conditional-put double exercising the conflict path — the offline
equivalent of the reference's copy_if_not_exists commit
(iceberg-file-catalog/src/lib.rs:306-361)."""

import json
import os
import threading

import pytest

from iceberg_rust_custom_spark.catalog.base import CommitFailed, Identifier
from iceberg_rust_custom_spark.catalog.file_catalog import FileCatalog
from iceberg_rust_custom_spark.catalog.object_store import (
    AlreadyExists,
    InMemoryObjectStore,
    LocalFSObjectStore,
    ObjectStoreCatalog,
)


def test_put_if_absent_is_atomic_in_memory():
    store = InMemoryObjectStore()
    store.put_if_absent("k", b"1")
    with pytest.raises(AlreadyExists):
        store.put_if_absent("k", b"2")
    assert store.get("k") == b"1"  # loser's write is NOT applied


@pytest.mark.parametrize("make_store", [InMemoryObjectStore, None])
def test_catalog_commit_conflict(make_store, tmp_path):
    store = make_store() if make_store else LocalFSObjectStore(str(tmp_path))
    cat = ObjectStoreCatalog(store)
    ident = Identifier(("ns",), "t")
    cat.register(ident, "v0.json")
    assert cat.load(ident) == ("v0.json", "table")
    cat.swap(ident, "v0.json", "v1.json")
    assert cat.load(ident)[0] == "v1.json"
    # stale swap (expected pointer moved on) → CommitFailed
    with pytest.raises(CommitFailed):
        cat.swap(ident, "v0.json", "v2.json")
    # race: two writers both see v1 and try to commit v2; exactly one wins
    results = []

    def commit(loc):
        try:
            cat.swap(ident, "v1.json", loc)
            results.append(("ok", loc))
        except CommitFailed:
            results.append(("conflict", loc))

    t1 = threading.Thread(target=commit, args=("v2a.json",))
    t2 = threading.Thread(target=commit, args=("v2b.json",))
    t1.start(); t2.start(); t1.join(); t2.join()
    outcomes = sorted(r[0] for r in results)
    assert outcomes == ["conflict", "ok"]
    winner = next(loc for st, loc in results if st == "ok")
    assert cat.load(ident)[0] == winner


@pytest.mark.slow
def test_file_catalog_loads_never_see_a_torn_pointer(tmp_path):
    """Loaders racing a committer read the previous pointer or the
    complete new one — never a created but not yet written file: three
    loader threads over 1,000 swaps see no partial JSON."""
    cat = FileCatalog(str(tmp_path / "wh"))
    ident = Identifier(("ns",), "t")
    cat.register(ident, "m0.json")
    done, torn, loads = threading.Event(), [], [0]

    def loader():
        while not done.is_set():
            try:
                cat.load(ident)
                loads[0] += 1
            except json.JSONDecodeError as e:
                torn.append(e)

    threads = [threading.Thread(target=loader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(1000):
            cat.swap(ident, f"m{i}.json", f"m{i + 1}.json")
    finally:
        done.set()
        for t in threads:
            t.join()
    assert cat.load(ident)[0] == "m1000.json"
    assert loads[0] > 0 and not torn


@pytest.mark.parametrize(
    "make", [FileCatalog, lambda wh: ObjectStoreCatalog(LocalFSObjectStore(wh))]
)
def test_staged_publish_is_no_pointer(make, tmp_path, monkeypatch):
    """put_if_absent stages the payload in a temp file, then links it to
    its name. While it is staged, neither catalog counts the temp file as
    a pointer: the tabular does not exist yet."""
    cat = make(str(tmp_path / "wh"))
    ident = Identifier(("ns",), "t")
    staged, link = [], os.link

    def spy(src, dst):
        staged.append((cat.tabular_exists(ident), cat.list_tabulars(("ns",))))
        return link(src, dst)

    monkeypatch.setattr(os, "link", spy)
    cat.register(ident, "m0.json")
    assert staged == [(False, [])]
    assert cat.tabular_exists(ident) and cat.list_tabulars(("ns",)) == [ident]


def test_catalog_listing_and_drop():
    cat = ObjectStoreCatalog(InMemoryObjectStore())
    for name in ("a", "b"):
        cat.register(Identifier(("ns", "sub"), name), f"{name}.json")
    assert [i.name for i in cat.list_tabulars(("ns", "sub"))] == ["a", "b"]
    assert ("ns", "sub") in cat.list_namespaces()
    with pytest.raises(CommitFailed):
        cat.register(Identifier(("ns", "sub"), "a"), "dup.json")
    cat.drop(Identifier(("ns", "sub"), "a"))
    assert not cat.tabular_exists(Identifier(("ns", "sub"), "a"))
    assert cat.tabular_exists(Identifier(("ns", "sub"), "b"))


def test_engine_runs_on_object_store_catalog(spark, tmp_path, sf_dir):
    """A full engine table lifecycle (create → insert → scan → second
    commit) over the in-memory conditional-put store: the object-store
    backend really is just a catalog swap."""
    from iceberg_rust_custom_spark.engine import Engine

    cat = ObjectStoreCatalog(InMemoryObjectStore(), warehouse=str(tmp_path / "wh"))
    eng = Engine(spark, catalog=cat)
    eng.sql("CREATE TABLE ns.t (id BIGINT, v DOUBLE) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.t VALUES (1, 1.5), (2, 2.5)")
    eng.sql("INSERT INTO ns.t VALUES (3, 3.5)")
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.t").first().n == 3
    t = eng.load_table("ns.t")
    assert len(t.metadata.snapshots) == 2
