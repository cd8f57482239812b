"""DDL front door + copy-on-write DELETE tests (reference surface:
datafusion_iceberg/src/planner.rs:55-244 for DDL; delete is our completion
of the reference's unimplemented-delete gap, README.md:22-46)."""

import os

import pytest

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_create_table_ddl_with_transforms(eng):
    eng.sql(
        "CREATE EXTERNAL TABLE tpch.t1 (id BIGINT, ts TIMESTAMP_NTZ, name STRING) "
        "STORED AS ICEBERG PARTITIONED BY (month(ts), bucket(4, id))"
    )
    t = eng.load_table("tpch.t1")
    spec = t.metadata.default_spec()
    assert [(f.name, f.transform.name) for f in spec.fields] == [
        ("ts_month", "month"),
        ("id_bucket", "bucket[4]"),
    ]


def test_insert_values_and_select(eng):
    eng.sql("CREATE TABLE ns.kv (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.kv VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    out = eng.sql("SELECT v, COUNT(*) AS n FROM ns.kv GROUP BY v ORDER BY v").collect()
    assert [(r.v, r.n) for r in out] == [("a", 2), ("b", 1)]


def test_create_view_and_materialized_view_ddl(eng):
    eng.sql("CREATE TABLE ns.src (k BIGINT, amt BIGINT) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.src VALUES (1, 10), (1, 20), (2, 5)")
    eng.sql("CREATE VIEW ns.v AS SELECT k, SUM(amt) AS total FROM ns.src GROUP BY k")
    assert {(r.k, r.total) for r in eng.sql("SELECT * FROM ns.v").collect()} == {(1, 30), (2, 5)}
    eng.sql("CREATE MATERIALIZED VIEW ns.mv AS SELECT k, SUM(amt) AS total FROM ns.src GROUP BY k")
    eng.sql("REFRESH MATERIALIZED VIEW ns.mv")
    assert {(r.k, r.total) for r in eng.scan_materialized_view("ns.mv").collect()} == {(1, 30), (2, 5)}


def test_csv_external_table(eng, spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("1,x\n2,y\n3,x\n")
    df = eng.sql(f"CREATE EXTERNAL TABLE csvsrc (id BIGINT, tag STRING) STORED AS CSV LOCATION '{p}'")
    assert df.count() == 3
    out = spark.sql("SELECT tag, COUNT(*) AS n FROM csvsrc GROUP BY tag ORDER BY tag").collect()
    assert [(r.tag, r.n) for r in out] == [("x", 2), ("y", 1)]


def test_delete_where_copy_on_write(eng, spark):
    eng.sql("CREATE TABLE ns.d (id BIGINT, status STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.d VALUES (1, 'keep'), (2, 'drop'), (3, 'keep'), (4, 'drop')")
    eng.sql("DELETE FROM ns.d WHERE status = 'drop'")
    t = eng.load_table("ns.d")
    rows = sorted(r.id for r in t.scan().collect())
    assert rows == [1, 3]
    # physically removed: no remaining file contains dropped rows
    assert t.scan().where("status = 'drop'").count() == 0


def test_delete_where_prunes_untouched_files(eng, spark):
    """Files whose stats exclude the predicate are carried over without
    rewrite (their paths survive the delete commit)."""
    eng.sql("CREATE TABLE ns.p (id BIGINT, grp STRING) STORED AS ICEBERG")
    t = eng.load_table("ns.p")
    t.append(spark.createDataFrame([(i, "low") for i in range(10)], "id long, grp string"))
    t.append(spark.createDataFrame([(i, "high") for i in range(100, 110)], "id long, grp string"))
    before = {f.file_path for f in _files(t)}
    delete_where(t, "id >= 100")
    t = eng.load_table("ns.p")
    after = {f.file_path for f in _files(t)}
    assert sorted(r.id for r in t.scan().collect()) == list(range(10))
    # the low-ids file was untouched (same physical path), high file is gone
    assert any(p in after for p in before), "untouched file should be carried over"


def _files(t):
    from iceberg_rust_custom_spark.table.scan import plan_files

    return plan_files(t.metadata, t.metadata.snapshot_for_ref())


def test_drop_and_if_exists(eng):
    eng.sql("CREATE TABLE ns.tmp (a BIGINT) STORED AS ICEBERG")
    eng.sql("DROP TABLE ns.tmp")
    assert not eng.table_exists("ns.tmp")
    eng.sql("DROP TABLE IF EXISTS ns.tmp")  # no error
    with pytest.raises(Exception):
        eng.sql("DROP TABLE ns.tmp")


# --------------------------------------------------- row-level + maintenance DDL
def test_update_statement(eng, spark):
    eng.sql("CREATE TABLE ns.u (id BIGINT, status STRING, v DOUBLE) STORED AS ICEBERG")
    t = eng.load_table("ns.u")
    t.append(spark.createDataFrame([(i, "open", float(i)) for i in range(10)], "id long, status string, v double"))
    eng.sql("UPDATE ns.u SET status = 'closed', v = v * 10 WHERE id >= 7")
    rows = {r.id: (r.status, r.v) for r in eng.load_table("ns.u").scan().collect()}
    assert rows[6] == ("open", 6.0)
    assert rows[7] == ("closed", 70.0)
    assert rows[9] == ("closed", 90.0)
    assert len(rows) == 10


def test_update_prunes_untouched_files(eng, spark):
    from iceberg_rust_custom_spark.table.scan import plan_files

    eng.sql("CREATE TABLE ns.u2 (id BIGINT, v DOUBLE) STORED AS ICEBERG")
    t = eng.load_table("ns.u2")
    t.append(spark.createDataFrame([(i, 0.0) for i in range(100)], "id long, v double"))
    t.append(spark.createDataFrame([(i, 0.0) for i in range(1000, 1100)], "id long, v double"))
    before = {f.file_path for f in plan_files(t.metadata, t.metadata.snapshot_for_ref())}
    eng.sql("UPDATE ns.u2 SET v = 1.0 WHERE id >= 1000")
    t.refresh()
    after = {f.file_path for f in plan_files(t.metadata, t.metadata.snapshot_for_ref())}
    assert before & after  # low-id file(s) carried over untouched
    assert t.scan().where("v = 1.0").count() == 100


@pytest.mark.slow
def test_optimize_and_vacuum(eng, spark):
    from iceberg_rust_custom_spark.table.scan import plan_files

    eng.sql("CREATE TABLE ns.o (id BIGINT) STORED AS ICEBERG")
    t = eng.load_table("ns.o")
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "id long"))
    assert len(plan_files(t.metadata, t.metadata.snapshot_for_ref())) >= 5
    eng.sql("OPTIMIZE ns.o")
    t.refresh()
    assert len(plan_files(t.metadata, t.metadata.snapshot_for_ref())) == 1
    assert t.scan().count() == 5
    # orphan + old snapshots swept
    orphan = os.path.join(t.metadata.location, "data", "junk.parquet")
    with open(orphan, "wb") as f:
        f.write(b"x")
    eng.sql("VACUUM ns.o")
    t.refresh()
    assert not os.path.exists(orphan)
    assert len(t.metadata.snapshots) == 1
    assert t.scan().count() == 5


def test_alter_properties_and_schema(eng, spark):
    eng.sql("CREATE TABLE ns.a (id INT, name STRING) STORED AS ICEBERG")
    eng.sql("ALTER TABLE ns.a SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    t = eng.load_table("ns.a")
    assert t.metadata.properties["write.delete.mode"] == "merge-on-read"
    eng.sql("ALTER TABLE ns.a UNSET TBLPROPERTIES ('write.delete.mode')")
    assert "write.delete.mode" not in eng.load_table("ns.a").metadata.properties

    t.append(spark.createDataFrame([(1, "x")], "id long, name string"))
    eng.sql("ALTER TABLE ns.a ADD COLUMN score double")
    eng.sql("ALTER TABLE ns.a RENAME COLUMN name TO label")
    eng.sql("ALTER TABLE ns.a ALTER COLUMN id TYPE bigint")
    t = eng.load_table("ns.a")
    assert [f.name for f in t.metadata.current_schema().fields] == ["id", "label", "score"]
    row = t.scan().first()
    assert (row.id, row.label, row.score) == (1, "x", None)
    eng.sql("ALTER TABLE ns.a DROP COLUMN score")
    assert [f.name for f in eng.load_table("ns.a").metadata.current_schema().fields] == ["id", "label"]


def test_alter_partition_spec(eng, spark):
    eng.sql("CREATE TABLE ns.ap (id BIGINT, d DATE) STORED AS ICEBERG")
    eng.sql("ALTER TABLE ns.ap SET PARTITION SPEC (month(d))")
    t = eng.load_table("ns.ap")
    assert [f.name for f in t.metadata.default_spec().fields] == ["d_month"]
    eng.sql("ALTER TABLE ns.ap ADD PARTITION FIELD bucket(4, id)")
    t = eng.load_table("ns.ap")
    assert [f.name for f in t.metadata.default_spec().fields] == ["d_month", "id_bucket"]
    # shared field kept its identity across the evolution
    assert t.metadata.default_spec().spec_id == 2


def test_time_travel_sql_syntax(eng, spark):
    eng.sql("CREATE TABLE ns.tt (id BIGINT) STORED AS ICEBERG")
    t = eng.load_table("ns.tt")
    t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    v1 = t.metadata.current_snapshot_id
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.tt").first().n == 3
    assert eng.sql(f"SELECT COUNT(*) AS n FROM ns.tt FOR VERSION AS OF {v1}").first().n == 2
    import datetime as dt

    ts = dt.datetime.fromtimestamp(
        t.metadata.snapshot_by_id(v1).timestamp_ms / 1000, dt.timezone.utc
    ).isoformat()
    q = f"SELECT COUNT(*) AS n FROM ns.tt FOR SYSTEM_TIME AS OF '{ts}'"
    assert eng.sql(q).first().n == 2
    # aliased, in a CTE and in an IN subquery, next to a literal that names
    # the table; and Spark's other spellings of the clause
    for q in (
        f"SELECT COUNT(*) AS n, 'from ns.tt' AS s FROM ns.tt FOR VERSION AS OF {v1} AS x "
        "WHERE x.id > 0",
        f"WITH old AS (SELECT id FROM ns.tt FOR SYSTEM_TIME AS OF '{ts}') "
        "SELECT COUNT(*) AS n, 'from ns.tt' AS s FROM old",
        "SELECT COUNT(*) AS n, 'from ns.tt' AS s FROM ns.tt "
        f"WHERE id IN (SELECT o.id FROM ns.tt VERSION AS OF {v1} o)",
        f"SELECT COUNT(*) AS n, 'from ns.tt' AS s FROM ns.tt FOR TIMESTAMP AS OF '{ts}'",
    ):
        assert tuple(eng.sql(q).first()) == (2, "from ns.tt"), q


def test_sql_string_literals_are_not_relations(eng, spark):
    """A dotted name inside a string literal is text, not a relation: it
    reaches Spark unchanged, so a filter on it matches."""
    assert eng.sql("SELECT 'moved from a.b' AS s").first().s == "moved from a.b"
    eng.sql("CREATE TABLE db.t (id BIGINT, note STRING) STORED AS ICEBERG")
    eng.load_table("db.t").append(
        spark.createDataFrame([(1, "shipped from db.t"), (2, "x")], "id long, note string")
    )
    q = "SELECT count(*) AS n FROM db.t WHERE note = 'shipped from db.t'"
    assert eng.sql(q).first().n == 1


def test_show_tables_and_describe(eng, spark):
    eng.sql("CREATE TABLE ns.s1 (id BIGINT, d DATE) STORED AS ICEBERG PARTITIONED BY (month(d))")
    eng.sql("CREATE TABLE other.s2 (x INT) STORED AS ICEBERG")
    all_tables = {(r.namespace, r.name) for r in eng.sql("SHOW TABLES").collect()}
    assert {("ns", "s1"), ("other", "s2")} <= all_tables
    in_ns = {r.name for r in eng.sql("SHOW TABLES IN ns").collect()}
    assert in_ns == {"s1"}
    desc = {r.col_name: (r.data_type, r.partition) for r in eng.sql("DESCRIBE ns.s1").collect()}
    assert desc == {"id": ("long", None), "d": ("date", "month")}


def test_optimize_zorder_by(eng, spark):
    import random

    from iceberg_rust_custom_spark.table.scan import plan_files

    rng = random.Random(3)
    eng.sql("CREATE TABLE ns.zo (x BIGINT, y BIGINT) STORED AS ICEBERG")
    t = eng.load_table("ns.zo")
    t.append(spark.createDataFrame(
        [(rng.randrange(100), rng.randrange(100)) for _ in range(5000)], "x long, y long"
    ).repartition(6))
    eng.sql("OPTIMIZE ns.zo ZORDER BY (x, y)")
    t.refresh()
    assert t.scan().count() == 5000
    assert t.scan().where("x < 10").count() > 0


def test_insert_overwrite(eng, spark):
    eng.sql("CREATE TABLE ns.io (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.io VALUES (1, 'a'), (2, 'b')")
    eng.sql("INSERT OVERWRITE ns.io VALUES (9, 'z')")
    assert [(r.k, r.v) for r in eng.sql("SELECT * FROM ns.io").collect()] == [(9, "z")]


def test_json_external_table(eng, spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1, "tag": "x"}\n{"id": 2, "tag": "y"}\n{"id": 3, "tag": "x"}\n')
    df = eng.sql(f"CREATE EXTERNAL TABLE jsrc (id BIGINT, tag STRING) STORED AS JSON LOCATION '{p}'")
    assert df.count() == 3
    out = spark.sql("SELECT tag, COUNT(*) AS n FROM jsrc GROUP BY tag ORDER BY tag").collect()
    assert [(r.tag, r.n) for r in out] == [("x", 2), ("y", 1)]


def test_orc_external_table(eng, spark, tmp_path):
    """ORC round-trip: Spark-native source; the reference only enumerates
    the format (manifest.rs:295-304) and cannot read it."""
    from iceberg_rust_custom_spark.sources.readers import read_orc

    loc = str(tmp_path / "orc_src")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.orc(loc)
    df = read_orc(spark, loc)
    assert {(r.id, r.s) for r in df.collect()} == {(1, "a"), (2, "b")}

    out = eng.sql(f"CREATE EXTERNAL TABLE ns.orc_ext (id BIGINT, s STRING) STORED AS ORC LOCATION '{loc}'")
    assert out is not None
    got = eng.sql("SELECT COUNT(*) AS n FROM ns.orc_ext").first().n
    assert got == 2


def test_merge_into_upsert(eng):
    eng.sql("CREATE TABLE ns.m (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.m VALUES (1, 'old'), (2, 'old')")
    eng.sql("CREATE TABLE ns.msrc (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.msrc VALUES (2, 'new'), (3, 'new')")
    eng.sql(
        "MERGE INTO ns.m AS t USING ns.msrc AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    out = {(r.k, r.v) for r in eng.load_table("ns.m").to_df().collect()}
    assert out == {(1, "old"), (2, "new"), (3, "new")}


def test_merge_into_subquery_source_and_delete(eng):
    eng.sql("CREATE TABLE ns.m2 (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.m2 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql(
        "MERGE INTO ns.m2 t USING (SELECT k, v FROM ns.m2 WHERE k > 1) s "
        "ON t.k = s.k WHEN MATCHED THEN DELETE"
    )
    out = {(r.k, r.v) for r in eng.load_table("ns.m2").to_df().collect()}
    assert out == {(1, "a")}


def test_merge_into_insert_only(eng):
    eng.sql("CREATE TABLE ns.m3 (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.m3 VALUES (1, 'keep')")
    eng.sql("CREATE TABLE ns.m3s (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.m3s VALUES (1, 'clobber'), (2, 'fresh')")
    eng.sql(
        "MERGE INTO ns.m3 USING ns.m3s s ON m3.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    out = {(r.k, r.v) for r in eng.load_table("ns.m3").to_df().collect()}
    assert out == {(1, "keep"), (2, "fresh")}  # matched row untouched


def test_merge_into_rejects_unsupported(eng):
    eng.sql("CREATE TABLE ns.m4 (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("CREATE TABLE ns.m4s (k BIGINT, v STRING) STORED AS ICEBERG")
    with pytest.raises(ValueError, match="equality conjunctions"):
        eng.sql(
            "MERGE INTO ns.m4 t USING ns.m4s s ON t.k > s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def test_alter_write_ordered_by(eng, spark):
    eng.sql("CREATE TABLE ns.so (k BIGINT, v BIGINT) STORED AS ICEBERG")
    eng.sql("ALTER TABLE ns.so WRITE ORDERED BY (v DESC, k)")
    t = eng.load_table("ns.so")
    order = t.metadata.sort_orders[t.metadata.default_sort_order_id]
    assert [(f.source_id, f.direction) for f in order.fields] == [(2, "desc"), (1, "asc")]
    # rows inside every written file must be v-descending
    eng.sql("INSERT INTO ns.so SELECT id AS k, (id * 37) % 100 AS v FROM range(100)")
    import pyarrow.parquet as pq

    paths = [r.file_path for r in eng.load_table("ns.so").files().collect()]
    assert paths
    for f in paths:
        vs = pq.read_table(f).column("v").to_pylist()
        assert vs == sorted(vs, reverse=True)
    eng.sql("ALTER TABLE ns.so WRITE UNORDERED")
    assert eng.load_table("ns.so").metadata.default_sort_order_id == 0


def test_metadata_tables_via_sql(eng, spark):
    eng.sql("CREATE TABLE ns.meta (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.meta VALUES (1, 'a'), (2, 'b')")
    eng.sql("INSERT INTO ns.meta VALUES (3, 'c')")
    files = eng.sql("SELECT file_path, record_count FROM ns.meta.files").collect()
    assert len(files) >= 2 and sum(r.record_count for r in files) == 3
    snaps = eng.sql("SELECT COUNT(*) AS n FROM ns.meta.snapshots").first()
    assert snaps.n == 2
    joined = eng.sql(
        "SELECT COUNT(*) AS n FROM ns.meta.files f JOIN ns.meta.entries e "
        "ON f.file_path = e.file_path"
    ).first()
    assert joined.n == len(files)


def test_branch_tag_ddl_and_branch_read(eng):
    eng.sql("CREATE TABLE ns.br (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.br VALUES (1, 'main1')")
    eng.sql("ALTER TABLE ns.br CREATE TAG v1")
    eng.sql("ALTER TABLE ns.br CREATE BRANCH dev")
    t = eng.load_table("ns.br")
    assert set(t.refs()) == {"main", "v1", "dev"}
    # appends to the branch are invisible on main, visible via .branch_dev
    t.append(eng.spark.createDataFrame([(2, "dev1")], "k long, v string"), branch="dev")
    assert eng.sql("SELECT * FROM ns.br").count() == 1
    assert {r.v for r in eng.sql("SELECT * FROM ns.br.branch_dev").collect()} == {"main1", "dev1"}
    assert eng.sql("SELECT * FROM ns.br.tag_v1").count() == 1
    eng.sql("ALTER TABLE ns.br DROP BRANCH dev")
    assert set(eng.load_table("ns.br").refs()) == {"main", "v1"}


def test_namespace_ddl(eng):
    eng.sql("CREATE NAMESPACE analytics.daily")
    assert ("analytics", "daily") in eng.catalog.list_namespaces()
    eng.sql("CREATE NAMESPACE IF NOT EXISTS analytics.daily")  # no error
    names = {r.namespace for r in eng.sql("SHOW NAMESPACES").collect()}
    assert "analytics.daily" in names


def test_show_create_table(eng):
    eng.sql(
        "CREATE TABLE ns.sct (id BIGINT, name STRING, ts TIMESTAMP) "
        "STORED AS ICEBERG PARTITIONED BY (month(ts), bucket(4, id))"
    )
    stmt = eng.sql("SHOW CREATE TABLE ns.sct").first().createtab_stmt
    assert "CREATE TABLE ns.sct" in stmt
    assert "id BIGINT" in stmt and "name STRING" in stmt
    assert "PARTITIONED BY (month(ts), bucket(4, id))" in stmt
    assert "LOCATION '" in stmt
    # round trip: the emitted DDL is itself accepted
    eng.sql(stmt.replace("ns.sct", "ns.sct2").split("\nTBLPROPERTIES")[0].split("\nLOCATION")[0])
    assert eng.table_exists("ns.sct2")


def test_truncate_table(eng):
    eng.sql("CREATE TABLE ns.tr (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.tr VALUES (1, 'a'), (2, 'b')")
    assert eng.sql("SELECT * FROM ns.tr").count() == 2
    eng.sql("TRUNCATE TABLE ns.tr")
    assert eng.sql("SELECT * FROM ns.tr").count() == 0
    # still writable after truncate
    eng.sql("INSERT INTO ns.tr VALUES (3, 'c')")
    assert eng.sql("SELECT * FROM ns.tr").count() == 1


@pytest.mark.slow
def test_merge_matched_condition(eng, spark):
    eng.sql("CREATE TABLE ns.mc (id BIGINT, status STRING, v BIGINT) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.mc VALUES (1, 'open', 10), (2, 'locked', 20), (3, 'open', 30)")
    spark.createDataFrame(
        [(1, "src", 100), (2, "src", 200), (4, "src", 400)], "id long, status string, v long"
    ).createOrReplaceTempView("mc_src")
    # only matched rows with status='open' are updated; locked row untouched;
    # absent key still inserted
    eng.sql(
        "MERGE INTO ns.mc USING mc_src ON ns.mc.id = mc_src.id "
        "WHEN MATCHED AND status = 'open' THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.id: (r.status, r.v) for r in eng.load_table("ns.mc").scan().collect()}
    assert rows == {1: ("src", 100), 2: ("locked", 20), 3: ("open", 30), 4: ("src", 400)}

    # conditional delete: only open rows whose key appears in the source
    spark.createDataFrame([(2,), (3,)], "id long").createOrReplaceTempView("mc_del")
    eng.sql(
        "MERGE INTO ns.mc USING mc_del ON ns.mc.id = mc_del.id "
        "WHEN MATCHED AND status = 'open' THEN DELETE"
    )
    assert sorted(r.id for r in eng.load_table("ns.mc").scan().collect()) == [1, 2, 4]


def test_merge_not_matched_by_source_delete(eng, spark):
    eng.sql("CREATE TABLE ns.sync (id BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.sync VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.createDataFrame([(2, "B"), (4, "D")], "id long, v string").createOrReplaceTempView(
        "sync_src"
    )
    # full sync: update present, insert new, delete vanished
    eng.sql(
        "MERGE INTO ns.sync USING sync_src ON ns.sync.id = sync_src.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    rows = {r.id: r.v for r in eng.load_table("ns.sync").scan().collect()}
    assert rows == {2: "B", 4: "D"}

    # by-source delete alone, with a target condition
    eng.sql("INSERT INTO ns.sync VALUES (7, 'keepme'), (8, 'dropme')")
    eng.sql(
        "MERGE INTO ns.sync USING sync_src ON ns.sync.id = sync_src.id "
        "WHEN NOT MATCHED BY SOURCE AND v = 'dropme' THEN DELETE"
    )
    assert sorted(r.id for r in eng.load_table("ns.sync").scan().collect()) == [2, 4, 7]


def test_truncate_preserves_history_and_branches(eng, spark):
    """TRUNCATE is a history-retaining overwrite: prior snapshots stay
    time-travelable and other branches keep their data (ADVICE r4 — the
    destructive rewrite used to delete files pinned by other refs)."""
    eng.sql("CREATE TABLE ns.trh (k BIGINT, v STRING) STORED AS ICEBERG")
    eng.sql("INSERT INTO ns.trh VALUES (1, 'a'), (2, 'b')")
    t = eng.load_table("ns.trh")
    pre_snap = t.metadata.current_snapshot_id
    t.create_branch("keepme")
    eng.sql("TRUNCATE TABLE ns.trh")
    t = eng.load_table("ns.trh")
    assert t.scan().count() == 0
    # time travel to the pre-truncate snapshot still sees the rows
    assert t.scan(snapshot_id=pre_snap).count() == 2
    # the branch created before the truncate is intact
    assert t.scan(branch="keepme").count() == 2
    # ancestry: truncate snapshot's parent is the pre-truncate head
    assert t.metadata.snapshot_for_ref().parent_snapshot_id == pre_snap


def test_destructive_rewrite_spares_other_refs(eng, spark):
    """compact()/overwrite() are destructive only when no other ref pins
    the history; with a live tag they fall back to a history-retaining
    overwrite instead of deleting the tag's data files."""
    from iceberg_rust_custom_spark.table.maintenance import compact

    eng.sql("CREATE TABLE ns.dro (k BIGINT) STORED AS ICEBERG")
    t = eng.load_table("ns.dro")
    t.append(spark.createDataFrame([(i,) for i in range(5)], "k long"))
    t.append(spark.createDataFrame([(i,) for i in range(5, 10)], "k long"))
    t.create_tag("pinned")
    compact(t)
    t = eng.load_table("ns.dro")
    assert t.scan().count() == 10
    assert t.scan(branch="pinned").count() == 10  # tag data not destroyed


def test_create_table_as_select(eng, spark):
    """CTAS: schema inferred from the planned query, result appended in
    one commit; partitioned variant applies transforms."""
    eng.sql("CREATE TABLE ns.src (id BIGINT, v DOUBLE, d DATE) STORED AS ICEBERG")
    eng.sql(
        "INSERT INTO ns.src VALUES (1, 1.5, DATE'2024-01-05'), "
        "(2, 2.5, DATE'2024-02-05'), (3, 3.5, DATE'2024-02-07')"
    )
    eng.sql("CREATE TABLE ns.ctas AS SELECT id, v * 2 AS v2 FROM ns.src WHERE id > 1")
    rows = {(r.id, r.v2) for r in eng.sql("SELECT * FROM ns.ctas").collect()}
    assert rows == {(2, 5.0), (3, 7.0)}
    # IF NOT EXISTS short-circuits
    eng.sql("CREATE TABLE IF NOT EXISTS ns.ctas AS SELECT 99 AS id, 0.0 AS v2")
    assert eng.sql("SELECT COUNT(*) AS n FROM ns.ctas").first().n == 2
    # partitioned CTAS
    eng.sql(
        "CREATE TABLE ns.ctasp STORED AS ICEBERG PARTITIONED BY (month(d)) "
        "AS SELECT id, d FROM ns.src"
    )
    t = eng.load_table("ns.ctasp")
    assert [f.name for f in t.metadata.default_spec().fields] == ["d_month"]
    assert t.scan().count() == 3
    assert t.count_planned_files("d >= '2024-02-01'") < t.count_planned_files()


def test_rename_table_and_show_partitions(eng, spark):
    eng.sql(
        "CREATE TABLE ns.rn (id BIGINT, d DATE) STORED AS ICEBERG PARTITIONED BY (month(d))"
    )
    eng.sql(
        "INSERT INTO ns.rn VALUES (1, DATE'2024-01-05'), (2, DATE'2024-02-05'), (3, DATE'2024-02-07')"
    )
    eng.sql("ALTER TABLE ns.rn RENAME TO ns.rn2")
    assert not eng.table_exists("ns.rn")
    assert eng.load_table("ns.rn2").scan().count() == 3
    parts = eng.sql("SHOW PARTITIONS ns.rn2").collect()
    assert len(parts) == 2  # two months
