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


@pytest.mark.parametrize("swaps", [200, pytest.param(1000, marks=pytest.mark.slow)])
def test_file_catalog_loads_never_see_a_torn_pointer(swaps, tmp_path):
    """Loaders racing a committer read the previous pointer or the
    complete new one — never a created but not yet written file: three
    loader threads over ``swaps`` swaps see no partial JSON."""
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
        for i in range(swaps):
            cat.swap(ident, f"m{i}.json", f"m{i + 1}.json")
    finally:
        done.set()
        for t in threads:
            t.join()
    assert cat.load(ident)[0] == f"m{swaps}.json"
    assert loads[0] > 0 and not torn


@pytest.mark.parametrize(
    "make", [FileCatalog, lambda wh: ObjectStoreCatalog(LocalFSObjectStore(wh))]
)
def test_staged_publish_is_no_pointer(make, tmp_path, monkeypatch):
    """put_if_absent stages the payload in a temp file, then links it to
    its name. While it is staged, neither the warehouse-rooted catalog nor
    a bare store catalog counts the temp file as a pointer: the tabular
    does not exist yet."""
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


def _random_keys(rng):
    """A random key set a filesystem can hold: no key is also the
    directory of another."""
    keys = set()
    for _ in range(rng.randint(1, 40)):
        depth = rng.randint(1, 4)
        keys.add("/".join(rng.choice(["a", "ab", "b", "pointer.v1.json", ".x"]) for _ in range(depth)))
    return sorted(k for k in keys if not any(o.startswith(k + "/") for o in keys))


def test_local_fs_list_matches_in_memory(tmp_path):
    """``LocalFSObjectStore.list`` scans only the directory the prefix
    names, yet returns what the in-memory store's string-prefix scan does:
    prefixes that end mid-name, end in ``/``, are empty, or name a missing
    directory (or pass through a file)."""
    import random

    rng = random.Random(7)
    for trial in range(300):
        root = tmp_path / str(trial)
        fs, mem = LocalFSObjectStore(str(root)), InMemoryObjectStore()
        keys = _random_keys(rng)
        for k in keys:
            fs.put_if_absent(k, b"1")
            mem.put_if_absent(k, b"1")
        prefixes = {"", "a", "a/", "a/a", "ab/", "b/a", "missing/", "missing/x", "zz"}
        for k in keys:
            cut = rng.randint(0, len(k))
            prefixes.update({k, k[:cut], k + "/", k + "/x"})
            prefixes.update(k[: i + 1] for i, ch in enumerate(k) if ch == "/")
        for prefix in sorted(prefixes):
            assert fs.list(prefix) == mem.list(prefix), (keys, prefix)
        assert LocalFSObjectStore(str(tmp_path / "nowhere")).list("_catalog/") == []


def test_pointer_dropped_after_listing_reads_as_missing():
    """A pointer dropped between the version listing and the read is a
    missing tabular (FileNotFoundError), not the store's KeyError."""

    class DropBeforeGet(InMemoryObjectStore):
        def get(self, key):
            self.delete_prefix(key)
            return super().get(key)

    cat = ObjectStoreCatalog(DropBeforeGet())
    ident = Identifier(("ns",), "t")
    cat.register(ident, "m0.json")
    with pytest.raises(FileNotFoundError):
        cat.load(ident)


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


def test_parent_layout_warehouse_loads_unchanged(spark, tmp_path):
    """A warehouse whose ``_catalog`` was written by the earlier
    stand-alone file catalog (pointer files per version, the namespace as
    a directory with ``.nsprops.v{N}.json``) reads unchanged through the
    Engine: tables, views, namespace properties, and the next commit."""
    import shutil

    from iceberg_rust_custom_spark.engine import Engine

    wh = tmp_path / "wh"
    eng = Engine(spark, warehouse=str(wh))
    ident = Identifier(("ns",), "t")
    eng.sql("CREATE TABLE ns.t (id BIGINT) STORED AS ICEBERG")
    locs = [eng.catalog.load(ident)[0]]
    for values in ("(1), (2)", "(3)"):
        eng.sql(f"INSERT INTO ns.t VALUES {values}")
        locs.append(eng.catalog.load(ident)[0])
    eng.create_view("ns.v", "SELECT id FROM ns.t WHERE id > 1")
    view_loc = eng.catalog.load(Identifier(("ns",), "v"))[0]

    shutil.rmtree(wh / "_catalog")
    pointers = [(f"t/pointer.v{i}.json", loc, "table") for i, loc in enumerate(locs)]
    pointers.append(("v/pointer.v0.json", view_loc, "view"))
    for rel, loc, kind in pointers:
        path = wh / "_catalog" / "ns" / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"metadata_location": loc, "kind": kind}))
    (wh / "_catalog" / "ns" / ".nsprops.v0.json").write_text(json.dumps({"owner": "de"}))
    (wh / "_catalog" / "ns" / ".nsprops.v1.json").write_text(
        json.dumps({"owner": "de", "tier": "raw"})
    )

    eng = Engine(spark, warehouse=str(wh))
    assert eng.catalog.list_namespaces() == [("ns",)]
    assert [i.name for i in eng.catalog.list_tabulars(("ns",))] == ["t", "v"]
    assert eng.catalog.load(ident) == (locs[-1], "table")
    assert sorted(r.id for r in eng.sql("SELECT id FROM ns.t").collect()) == [1, 2, 3]
    assert sorted(r.id for r in eng.sql("SELECT id FROM ns.v").collect()) == [2, 3]
    rows = {r.key: r.value for r in eng.sql("DESCRIBE NAMESPACE ns").collect()}
    assert rows == {"owner": "de", "tier": "raw"}
    eng.sql("INSERT INTO ns.t VALUES (4)")
    assert (wh / "_catalog" / "ns" / "t" / "pointer.v3.json").exists()
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.t").first().n == 4


def test_relative_warehouse_yields_absolute_locations(spark, tmp_path, monkeypatch):
    """``Engine(warehouse=<relative path>)`` resolves it once, against the
    working directory at construction: table and view locations and the
    metadata pointers are absolute."""
    from iceberg_rust_custom_spark.engine import Engine

    monkeypatch.chdir(tmp_path)
    eng = Engine(spark, warehouse="rel_wh")
    eng.sql("CREATE TABLE ns.t (id BIGINT) STORED AS ICEBERG")
    eng.create_view("ns.v", "SELECT id FROM ns.t")
    base = str(tmp_path / "rel_wh")
    assert eng.catalog.warehouse == eng.warehouse == base
    assert eng.load_table("ns.t").metadata.location == os.path.join(base, "ns", "t")
    for name in ("t", "v"):
        loc, _ = eng.catalog.load(Identifier(("ns",), name))
        assert loc.startswith(os.path.join(base, "ns", name) + os.sep)
