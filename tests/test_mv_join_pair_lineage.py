"""r11 (VERDICT r10 #2): join-MV storage carries (rid_a, rid_b) pair
lineage, and changelog refreshes commit Δ⁻ as MoR EQUALITY deletes on the
pair + Δ⁺ as an append — one atomic commit, no pre-existing storage file
read or rewritten. The multiset content-join fallback (position
tombstones discovered against a range-pruned storage scan) remains for
legacy/null-rid storages.

Why the pair is a sound key: an inner join emits exactly one output row
per matching (a-row, b-row) pair, and v3 row ids are unique per source
row — so (rid_a, rid_b) identifies a view row across refreshes, exactly
like SRC_ROW_ID does for single-table SPJ views (r9/r10 machinery)."""

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import (
    SRC_ROW_ID_A,
    SRC_ROW_ID_B,
    joinN_equi_keys,
    joinN_lineage_sql,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _mk(eng, spark, ns="p", n=30):
    a = eng.create_table(
        f"{ns}.a", spark.range(1).select(F.col("id").alias("k"), F.lit("x").alias("ak")).schema
    )
    b = eng.create_table(
        f"{ns}.b", spark.range(1).select(F.col("id").alias("k"), F.lit("x").alias("bk")).schema
    )
    a.append(
        spark.range(n).select(F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id")).alias("ak"))
    )
    b.append(
        spark.range(n).select(F.col("id").alias("k"), F.concat(F.lit("b"), F.col("id")).alias("bk"))
    )
    return a, b


def _oracle(eng, ns="p"):
    return sorted(
        (r.ak, r.bk)
        for r in eng.sql(f"SELECT a.ak, b.bk FROM {ns}.a a JOIN {ns}.b b ON a.k = b.k").collect()
    )


def _mv_rows(eng, name):
    return sorted((r.ak, r.bk) for r in eng.scan_materialized_view(name).collect())


def test_joinN_lineage_sql_two_relation_shapes():
    assert joinN_lineage_sql("SELECT a.x, b.y FROM t1 a JOIN t2 b ON a.k = b.k") == (
        f"SELECT a.x, b.y, a._row_id AS {SRC_ROW_ID_A}, b._row_id AS {SRC_ROW_ID_B} "
        "FROM t1 a JOIN t2 b ON a.k = b.k"
    )
    # no aliases: undotted relation names qualify
    got = joinN_lineage_sql("SELECT x, y FROM t1 JOIN t2 ON t1.k = t2.k WHERE x > 1")
    assert got is not None and f"t1._row_id AS {SRC_ROW_ID_A}" in got and got.endswith("WHERE x > 1")
    # ruled out: SELECT *, aggregates, dotted rel without alias, self-join
    assert joinN_lineage_sql("SELECT * FROM t1 a JOIN t2 b ON a.k = b.k") is None
    assert joinN_lineage_sql("SELECT sum(a.x) AS s FROM t1 a JOIN t2 b ON a.k = b.k") is None
    assert joinN_lineage_sql("SELECT x FROM ns.t1 JOIN t2 ON t1.k = t2.k") is None
    assert joinN_lineage_sql("SELECT a.x FROM t1 a JOIN t1 b ON a.k = b.k") is None
    assert joinN_lineage_sql("SELECT a.x FROM t1 a LEFT JOIN t2 b ON a.k = b.k") is None


def test_join_mv_storage_has_pair_columns_and_nonnull_rids(eng, spark):
    _mk(eng, spark, "p")
    eng.create_materialized_view("p.mv", "SELECT a.ak, b.bk FROM p.a a JOIN p.b b ON a.k = b.k")
    storage = eng.load_table("p.mv__storage")
    names = [f.name for f in storage.metadata.current_schema().fields]
    assert SRC_ROW_ID_A in names and SRC_ROW_ID_B in names
    df = storage.scan()
    assert df.where(f"{SRC_ROW_ID_A} IS NULL OR {SRC_ROW_ID_B} IS NULL").count() == 0
    assert df.select(SRC_ROW_ID_A, SRC_ROW_ID_B).distinct().count() == df.count()
    # hidden columns never leak to the user surface
    assert SRC_ROW_ID_A not in eng.scan_materialized_view("p.mv").columns
    assert _mv_rows(eng, "p.mv") == _oracle(eng, "p")


@pytest.mark.slow
def test_join_changelog_refresh_commits_pair_eq_deletes(eng, spark):
    """The delta commit's Δ⁻ is an EQUALITY delete file keyed on the two
    rid columns (with footer bounds for victim pruning) — not position
    tombstones from a storage content scan."""
    a, b = _mk(eng, spark, "q")
    eng.create_materialized_view("q.mv", "SELECT a.ak, b.bk FROM q.a a JOIN q.b b ON a.k = b.k")
    storage = eng.load_table("q.mv__storage")
    schema = storage.metadata.current_schema()
    rid_ids = {schema.field_by_name(SRC_ROW_ID_A).field_id, schema.field_by_name(SRC_ROW_ID_B).field_id}
    before = {
        f.file_path for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    delete_where(a, "k IN (3, 7)", mode="merge-on-read")
    a.append(spark.createDataFrame([(100, "a100")], "k long, ak string"))
    b.append(spark.createDataFrame([(100, "b100")], "k long, bk string"))
    assert eng.refresh_materialized_view("q.mv") == "incremental-changelog-join"
    storage = eng.load_table("q.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "pre-existing storage files were rewritten"
    eqs = [e.data_file for e in plan_delete_files(storage.metadata, snap) if e.data_file.content == 2]
    assert eqs, "expected equality-delete tombstones keyed on the rid pair"
    assert all(set(d.equality_ids or ()) == rid_ids for d in eqs)
    assert all(SRC_ROW_ID_A in (d.lower_bounds or {}) for d in eqs)  # prunable
    # no position tombstones: the pair path never scanned storage content
    assert not [
        e for e in plan_delete_files(storage.metadata, snap) if e.data_file.content == 1
    ]
    assert _mv_rows(eng, "q.mv") == _oracle(eng, "q")


@pytest.mark.slow
def test_join_mv_update_pair_lands_final_version(eng, spark):
    """A MoR UPDATE keeps the source row's rid: the pair eq-deletes its old
    storage row while the same-commit append (which equality deletes never
    touch — sequence gating) lands the new version. Includes an update
    that changes NO projected column (must cancel entirely) and a double
    update (intermediate version must cancel)."""
    a, b = _mk(eng, spark, "u")
    eng.create_materialized_view("u.mv", "SELECT a.k, a.ak, b.bk FROM u.a a JOIN u.b b ON a.k = b.k")
    update_where(a, {"ak": "'a5-v2'"}, "k = 5", mode="merge-on-read")
    update_where(a, {"ak": "'a5-v3'"}, "k = 5", mode="merge-on-read")
    update_where(b, {"bk": "bk"}, "k = 9", mode="merge-on-read")  # no-op content
    assert eng.refresh_materialized_view("u.mv") == "incremental-changelog-join"
    got = sorted((r.k, r.ak, r.bk) for r in eng.scan_materialized_view("u.mv").collect())
    want = sorted(
        (r.k, r.ak, r.bk)
        for r in eng.sql("SELECT a.k, a.ak, b.bk FROM u.a a JOIN u.b b ON a.k = b.k").collect()
    )
    assert got == want
    assert ("5", ) not in {(g[1],) for g in got} and any(g[1] == "a5-v3" for g in got)
    assert sum(1 for g in got if g[0] == 5) == 1  # no stale intermediates


@pytest.mark.slow
def test_join_mv_cross_term_nets_out(eng, spark):
    """A-row deleted in-range joining a B-row inserted in-range: the pair
    lands in BOTH Δ⁺V and Δ⁻V and must cancel before the commit — eq-
    deleting it after appending would be wrong order-dependence, keeping
    or killing the row depending on sequencing."""
    a, b = _mk(eng, spark, "x")
    eng.create_materialized_view("x.mv", "SELECT a.ak, b.bk FROM x.a a JOIN x.b b ON a.k = b.k")
    delete_where(a, "k = 2", mode="merge-on-read")
    b.append(spark.createDataFrame([(2, "b2-new")], "k long, bk string"))
    assert eng.refresh_materialized_view("x.mv") == "incremental-changelog-join"
    got = _mv_rows(eng, "x.mv")
    assert got == _oracle(eng, "x")
    assert not any(ak == "a2" for ak, _ in got)


@pytest.mark.slow
def test_null_rid_poisoned_join_storage_falls_back(eng, spark):
    """Storage holding NULL pair rids must not take the eq-delete path (a
    NULL key never matches). The probe falls back to the multiset content
    path — still delta-writes, never a wrong answer."""
    import os
    import uuid as _uuid

    from iceberg_rust_custom_spark.table.write import write_partitioned

    a, b = _mk(eng, spark, "n")
    eng.create_materialized_view("n.mv", "SELECT a.ak, b.bk FROM n.a a JOIN n.b b ON a.k = b.k")
    storage = eng.load_table("n.mv__storage")
    state = storage.metadata.snapshot_for_ref().summary.get("refresh-state")
    poisoned = (
        storage.scan()
        .withColumn(SRC_ROW_ID_A, F.lit(None).cast("long"))
        .withColumn(SRC_ROW_ID_B, F.lit(None).cast("long"))
    )
    data_dir = os.path.join(storage.metadata.location, "data", _uuid.uuid4().hex[:12])
    files = write_partitioned(poisoned, storage.metadata, data_dir, keep_layout=True)
    storage.metadata = storage.new_transaction().rewrite_with_lineage(files, state).commit()
    delete_where(a, "k < 10", mode="merge-on-read")
    ran = eng.refresh_materialized_view("n.mv")
    assert ran  # some flavor ran — and the answer is exact
    assert _mv_rows(eng, "n.mv") == _oracle(eng, "n")
    assert all(not ak.startswith("a0") and ak != "a1" for ak, _ in _mv_rows(eng, "n.mv") if len(ak) == 2)


@pytest.mark.slow
def test_join_mv_storage_is_rid_a_clustered_and_prunable(eng, spark):
    """Storage range-distributes on (rid_a, rid_b): disjoint per-file rid_a
    ranges with tight footer bounds, so a narrow delta's pair eq-deletes
    victim-prune to a strict subset of storage files (mirror of the r10
    SPJ rid-clustering proof)."""
    from iceberg_rust_custom_spark.table.maintenance import compact
    from iceberg_rust_custom_spark.table.scan import (
        data_file_sequence_numbers,
        eq_victim_candidates,
    )

    a, b = _mk(eng, spark, "c", n=20000)
    eng.create_materialized_view("c.mv", "SELECT a.k, a.ak, b.bk FROM c.a a JOIN c.b b ON a.k = b.k")
    storage = eng.load_table("c.mv__storage")
    storage.metadata = storage.new_transaction().set_properties(
        {"write.target-file-size-bytes": "65536"}
    ).commit()
    compact(storage)
    storage = eng.load_table("c.mv__storage")
    files = plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    bounded = [
        f for f in files if SRC_ROW_ID_A in f.lower_bounds and SRC_ROW_ID_A in f.upper_bounds
    ]
    assert len(bounded) >= 2
    ranges = sorted(
        (f.lower_bounds[SRC_ROW_ID_A], f.upper_bounds[SRC_ROW_ID_A]) for f in bounded
    )
    for (_, h1), (l2, _) in zip(ranges, ranges[1:]):
        assert h1 <= l2  # rid_a-clustered (ties only at range boundaries)
    delete_where(a, "k >= 100 AND k < 130", mode="merge-on-read")
    assert eng.refresh_materialized_view("c.mv") == "incremental-changelog-join"
    storage = eng.load_table("c.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    eqs = [e for e in plan_delete_files(storage.metadata, snap) if e.data_file.content == 2]
    assert eqs
    files = plan_files(storage.metadata, snap)
    cand = eq_victim_candidates(
        files,
        eqs,
        storage.metadata.current_schema(),
        data_file_sequence_numbers(storage.metadata, snap),
    )
    assert 0 < len(cand) < len(files)
    got = sorted(r.k for r in eng.scan_materialized_view("c.mv").collect())
    want = sorted(
        r.k for r in eng.sql("SELECT a.k FROM c.a a JOIN c.b b ON a.k = b.k").collect()
    )
    assert got == want


@pytest.mark.slow
def test_appends_only_join_refresh_carries_pair_rids(eng, spark):
    """The appends-only (incremental-join) path writes delta rows WITH
    their pair rids, so a later MoR delete still takes the eq-delete
    path instead of degrading to the content fallback."""
    a, b = _mk(eng, spark, "ap")
    eng.create_materialized_view("ap.mv", "SELECT a.ak, b.bk FROM ap.a a JOIN ap.b b ON a.k = b.k")
    a.append(spark.createDataFrame([(200, "a200")], "k long, ak string"))
    b.append(spark.createDataFrame([(200, "b200")], "k long, bk string"))
    assert eng.refresh_materialized_view("ap.mv") == "incremental-join"
    storage = eng.load_table("ap.mv__storage")
    assert (
        storage.scan().where(f"{SRC_ROW_ID_A} IS NULL OR {SRC_ROW_ID_B} IS NULL").count() == 0
    )
    # now a row-level delete: must still be the pair eq-delete path
    delete_where(b, "k = 200", mode="merge-on-read")
    assert eng.refresh_materialized_view("ap.mv") == "incremental-changelog-join"
    assert _mv_rows(eng, "ap.mv") == _oracle(eng, "ap")


@pytest.mark.slow
def test_multiset_fallback_poisons_rid_trust_until_full_refresh(eng, spark):
    """Review r11: content-keyed tombstones cannot tell content-equal rows
    with DIFFERENT rids apart — a multiset fallback that tombstoned rows
    on a rid-carrying storage may leave rids non-null but MIS-ASSIGNED.
    The commit stamps write.mv.rid-keys-trusted=false, the rid fast paths
    stay off (answers stay exact via the content path), and only a full
    refresh (fresh lineage everywhere) re-enables them."""
    import os
    import uuid as _uuid

    from pyspark.sql import functions as F

    a, b = _mk(eng, spark, "tr", n=10)
    # two A-rows that join to the same B-row and project IDENTICAL content
    a.append(spark.createDataFrame([(5, "dup"), (5, "dup")], "k long, ak string"))
    eng.create_materialized_view("tr.mv", "SELECT a.ak, b.bk FROM tr.a a JOIN tr.b b ON a.k = b.k")
    storage = eng.load_table("tr.mv__storage")
    assert eng._storage_rids_ok(storage, [SRC_ROW_ID_A, SRC_ROW_ID_B])
    # force a content fallback commit: delete ONE of the duplicate rows
    st_state = storage.metadata.snapshot_for_ref().summary.get("refresh-state")
    dup = (
        eng.sql("SELECT a.ak, b.bk FROM tr.a a JOIN tr.b b ON a.k = b.k")
        .where("ak = 'dup'")
        .limit(1)
    )
    vis = ["ak", "bk"]
    data_dir = os.path.join(storage.metadata.location, "data", _uuid.uuid4().hex[:12])
    ran = eng._multiset_delta_commit(
        storage, dup.limit(0), dup, vis, st_state, data_dir, null_rid=True
    )
    assert ran == "ok"
    storage = eng.load_table("tr.mv__storage")
    assert storage.metadata.properties.get("write.mv.rid-keys-trusted") == "false"
    assert not eng._storage_rids_ok(storage, [SRC_ROW_ID_A, SRC_ROW_ID_B])
    # auto-heal (r12, VERDICT r11 #6): the NEXT refresh detects the
    # poisoned flag and routes itself to a full rewrite — which re-derives
    # every row's lineage and flips trust back on — instead of parking on
    # the slow content path forever
    delete_where(a, "k = 5", mode="merge-on-read")  # kills both dup rows
    assert eng.refresh_materialized_view("tr.mv") == "full"
    assert _mv_rows(eng, "tr.mv") == _oracle(eng, "tr")
    assert not any(ak == "dup" for ak, _ in _mv_rows(eng, "tr.mv"))
    storage = eng.load_table("tr.mv__storage")
    assert storage.metadata.properties.get("write.mv.rid-keys-trusted") == "true"
    assert eng._storage_rids_ok(storage, [SRC_ROW_ID_A, SRC_ROW_ID_B])
    # with trust restored, the delta fast path comes back by itself
    delete_where(b, "k = 3", mode="merge-on-read")
    assert eng.refresh_materialized_view("tr.mv") == "incremental-changelog-join"
    assert _mv_rows(eng, "tr.mv") == _oracle(eng, "tr")


@pytest.mark.slow
def test_unhealable_lineage_stamps_unavailable_and_never_pingpongs(eng, spark, monkeypatch):
    """Review r12: when a full rewrite CANNOT re-derive lineage (view
    sources, v2 imports — simulated by forcing the lineage rewrite to
    opt out), it stamps rid-keys-trusted=unavailable instead of true.
    Subsequent content-path deltas must keep working delta-sized WITHOUT
    re-arming the auto-heal — the old unconditional true/false flip
    ping-ponged such MVs between a content poison and an O(|V|) full
    rewrite every other refresh."""
    a, b = _mk(eng, spark, "uh", n=12)
    eng.create_materialized_view(
        "uh.mv", "SELECT a.ak, b.bk FROM uh.a a JOIN uh.b b ON a.k = b.k"
    )
    # lineage becomes underivable from now on
    monkeypatch.setattr(Engine, "_sql_with_join_lineage", lambda self, sql: None)
    monkeypatch.setattr(Engine, "_mv_lineage_join_sql", lambda self, sql, plan=None: None)
    b.append(spark.createDataFrame([(100, "b100")], "k long, bk string"))
    assert eng.refresh_materialized_view("uh.mv", mode="full") == "full"
    storage = eng.load_table("uh.mv__storage")
    assert storage.metadata.properties.get("write.mv.rid-keys-trusted") == "unavailable"
    # content-path deltas stay incremental (delta-sized), answers exact,
    # and the state is NOT downgraded to "false" (which would re-arm heal)
    delete_where(a, "k IN (3, 5)", mode="merge-on-read")
    flavor = eng.refresh_materialized_view("uh.mv")
    assert flavor == "incremental-changelog-join", flavor
    assert _mv_rows(eng, "uh.mv") == _oracle(eng, "uh")
    storage = eng.load_table("uh.mv__storage")
    assert storage.metadata.properties.get("write.mv.rid-keys-trusted") == "unavailable"
    # and the next delta refresh STILL doesn't route to a full rewrite
    delete_where(b, "k = 7", mode="merge-on-read")
    assert eng.refresh_materialized_view("uh.mv") == "incremental-changelog-join"
    assert _mv_rows(eng, "uh.mv") == _oracle(eng, "uh")


@pytest.mark.slow
def test_join_mv_storage_is_changelog_followable(eng, spark):
    """r12 (VERDICT r11 #7): a join MV's pair-keyed equality-delete
    commits replay through the STORAGE table's changelog, so a downstream
    CDC follower of ``mv__storage`` sees exactly the delta — both via
    ``Table.changes`` (multiset-replayed onto the pre-delta content) and
    via the streaming CDC source (value-identical feed)."""
    from collections import Counter

    from iceberg_rust_custom_spark.streaming.cdc_source import register_cdc_source

    a, b = _mk(eng, spark, "cf")
    eng.create_materialized_view(
        "cf.mv", "SELECT a.ak, b.bk FROM cf.a a JOIN cf.b b ON a.k = b.k"
    )
    storage = eng.load_table("cf.mv__storage")
    anchor_seq = storage.metadata.snapshot_for_ref().sequence_number
    before = Counter((r.ak, r.bk) for r in storage.scan().select("ak", "bk").collect())
    # two delta refreshes: MoR delete, then MoR update + appends
    delete_where(a, "k IN (2, 4)", mode="merge-on-read")
    assert eng.refresh_materialized_view("cf.mv") == "incremental-changelog-join"
    update_where(b, {"bk": "'upd'"}, "k = 7", mode="merge-on-read")
    a.append(spark.createDataFrame([(100, "a100")], "k long, ak string"))
    b.append(spark.createDataFrame([(100, "b100")], "k long, bk string"))
    assert eng.refresh_materialized_view("cf.mv") == "incremental-changelog-join"
    storage = eng.load_table("cf.mv__storage")
    ch = storage.changes(anchor_seq)
    ins = Counter(
        (r.ak, r.bk) for r in ch.where("_change_type = 'insert'").collect()
    )
    dels = Counter(
        (r.ak, r.bk) for r in ch.where("_change_type = 'delete'").collect()
    )
    replayed = before.copy()
    replayed.subtract(dels)
    replayed.update(ins)
    assert all(v >= 0 for v in replayed.values()), "changelog deleted absent rows"
    now = Counter((r.ak, r.bk) for r in eng.scan_materialized_view("cf.mv").collect())
    assert +replayed == now
    # event-count oracle: two A-rows deleted (each joining one B-row), one
    # B-row updated (delete+insert pair), one new joining pair appended
    assert sum(dels.values()) == 3 and sum(ins.values()) == 2
    # streaming CDC source over the STORAGE table matches Table.changes —
    # a follower anchors AFTER the initial full refresh (a file-set
    # replacement is not changelog-replayable, by design)
    fmt = register_cdc_source(spark)
    feed = (
        spark.read.format(fmt)
        .option("warehouse", eng.catalog.warehouse)
        .option("table", "cf.mv__storage")
        .option("starting_sequence", str(anchor_seq))
        .load()
        .select("ak", "bk", "_change_type")
    )
    want = storage.changes(anchor_seq).select("ak", "bk", "_change_type")
    assert feed.exceptAll(want).count() == 0
    assert want.exceptAll(feed).count() == 0


def test_joinN_equi_keys_two_relation_parsing():
    def keys(sql):
        got = joinN_equi_keys(sql)
        return None if got is None else got[(0, 1)]

    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.fk") == [("k", "fk")]
    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON b.fk = a.k") == [("k", "fk")]
    # unaliased relations qualify by name
    assert keys("SELECT x FROM t1 JOIN t2 ON t1.k = t2.k") == [("k", "k")]
    # compound AND-conjoined keys: every pair participates in pruning (r12)
    assert keys(
        "SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k AND a.j = b.j"
    ) == [("k", "k"), ("j", "j")]
    assert keys(
        "SELECT a.x FROM t1 a JOIN t2 b ON b.k = a.k AND a.j = b.jj"
    ) == [("k", "k"), ("j", "jj")]
    # mixed equality + theta: the equality pairs alone still prune soundly
    assert keys(
        "SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k AND a.j < b.j"
    ) == [("k", "k")]
    # pure theta: no pruning keys
    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON a.k < b.k") is None
    # OR / parenthesized conditions could join outside any conjunct's set
    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k OR a.j = b.j") is None
    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON (a.k = b.k)") is None
    # one-sided equalities carry no cross-relation key
    assert keys("SELECT a.x FROM t1 a JOIN t2 b ON a.k = a.j") is None


def test_join_delta_key_predicate_shapes(eng, spark):
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.metadata.expressions import AlwaysFalse

    d_small = spark.createDataFrame([(3,), (7,), (None,)], "fk long")
    pred = eng._join_delta_key_predicate(d_small, [("kk", "fk")])
    assert pred.sql() == "(kk IN (3, 7))"  # nulls dropped: equi never matches NULL
    d_wide = spark.range(500).select(F.col("id").alias("fk"))
    pred = eng._join_delta_key_predicate(d_wide, [("fk", "fk")])
    assert ">=" in pred.sql() and "<=" in pred.sql()  # >64 distinct: range
    # quoted strings are fine through the shared prober (typed Expr values)
    d_str = spark.createDataFrame([("x",), ("it's",)], "fk string")
    assert "IN" in eng._join_delta_key_predicate(d_str, [("fk", "fk")]).sql()
    # EMPTY delta → AlwaysFalse: the arm plans ZERO files
    assert isinstance(
        eng._join_delta_key_predicate(d_small.limit(0), [("fk", "fk")]), AlwaysFalse
    )
    # compound keys (r12): one conjunct per pair, probed in ONE agg job
    d_two = spark.createDataFrame([(3, "x"), (7, "y")], "fk long, g string")
    sql = eng._join_delta_key_predicate(d_two, [("kk", "fk"), ("gg", "g")]).sql()
    assert "kk IN (3, 7)" in sql and "gg IN ('x', 'y')" in sql and " AND " in sql


@pytest.mark.slow
def test_join_refresh_prunes_full_side_files_by_delta_keys(eng, spark):
    """r11: with an equi-join, a small B-delta must not re-scan all of A —
    the A_old arm plans only files whose key bounds intersect the delta.
    Proven on the table directly with the same predicate the refresh
    builds, plus end-to-end refresh correctness."""
    from pyspark.sql import functions as F

    n = 20000
    a = eng.create_table(
        "pr.a",
        spark.range(1).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("av")).schema,
        sort_by=["k"],
        properties={"write.distribution-mode": "range", "write.range-partitions": "6"},
    )
    a.append(spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("av")))
    b = eng.create_table(
        "pr.b", spark.range(1).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("bv")).schema
    )
    b.append(spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("bv")))
    eng.create_materialized_view(
        "pr.mv", "SELECT a.k, a.av, b.bv FROM pr.a a JOIN pr.b b ON a.k = b.k"
    )
    # narrow B delta → the A_old arm's predicate prunes to a file subset
    update_where(b, {"bv": "bv + 1"}, "k >= 100 AND k < 130", mode="merge-on-read")
    db = b.changes(b.metadata.snapshots[
        min(b.metadata.snapshots, key=lambda s: b.metadata.snapshots[s].sequence_number)
    ].sequence_number)
    pred = eng._join_delta_key_predicate(db, [("k", "k")])
    assert pred is not None
    assert a.count_planned_files(pred) < a.count_planned_files()
    assert eng.refresh_materialized_view("pr.mv") == "incremental-changelog-join"
    got = sorted((r.k, r.av, r.bv) for r in eng.scan_materialized_view("pr.mv").collect())
    want = sorted(
        (r.k, r.av, r.bv)
        for r in eng.sql("SELECT a.k, a.av, b.bv FROM pr.a a JOIN pr.b b ON a.k = b.k").collect()
    )
    assert got == want


@pytest.mark.slow
def test_compound_key_join_refresh_prunes_and_stays_exact(eng, spark):
    """r12 (VERDICT r11 #1): an AND-conjoined compound equi-join ON
    condition prunes the full-side arms on EVERY key pair — previously
    the equi-key extractor returned None and each delta refresh re-scanned the
    whole full side. Proven with the refresh's own predicate on the
    table, plus end-to-end refresh correctness and the pair eq-delete
    commit shape."""
    from pyspark.sql import functions as F

    sql = (
        "SELECT a.k, a.av, b.bv FROM ck.a a JOIN ck.b b "
        "ON a.k = b.k AND a.g = b.g"
    )
    n = 20000
    a = eng.create_table(
        "ck.a",
        spark.range(1).select(
            F.col("id").alias("k"), F.lit("g0").alias("g"), (F.col("id") * 1.0).alias("av")
        ).schema,
        sort_by=["k"],
        properties={"write.distribution-mode": "range", "write.range-partitions": "6"},
    )
    a.append(
        spark.range(n).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), F.col("id") % 4).alias("g"),
            (F.col("id") * 1.0).alias("av"),
        )
    )
    b = eng.create_table(
        "ck.b",
        spark.range(1).select(
            F.col("id").alias("k"), F.lit("g0").alias("g"), (F.col("id") * 2.0).alias("bv")
        ).schema,
    )
    b.append(
        spark.range(n).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), F.col("id") % 4).alias("g"),
            (F.col("id") * 2.0).alias("bv"),
        )
    )
    eng.create_materialized_view("ck.mv", sql)
    update_where(b, {"bv": "bv + 1"}, "k >= 100 AND k < 130", mode="merge-on-read")
    first = min(
        b.metadata.snapshots, key=lambda s: b.metadata.snapshots[s].sequence_number
    )
    db = b.changes(b.metadata.snapshots[first].sequence_number)
    # the refresh builds this exact predicate: both pairs participate
    pred = eng._join_delta_key_predicate(db, [("k", "k"), ("g", "g")])
    assert pred is not None and "k" in pred.sql() and "g" in pred.sql()
    assert a.count_planned_files(pred) < a.count_planned_files()
    assert eng.refresh_materialized_view("ck.mv") == "incremental-changelog-join"
    storage = eng.load_table("ck.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    eqs = [
        e.data_file
        for e in plan_delete_files(storage.metadata, snap)
        if e.data_file.content == 2
    ]
    assert eqs, "compound-key refresh must still take the pair eq-delete path"
    got = sorted((r.k, r.av, r.bv) for r in eng.scan_materialized_view("ck.mv").collect())
    want = sorted((r.k, r.av, r.bv) for r in eng.sql(sql).collect())
    assert got == want
