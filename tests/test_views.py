"""View + materialized-view tests, modeled on the reference's MV refresh
harness (datafusion_iceberg/src/materialized_view.rs:235-545): create sources,
MV over them, assert exact aggregates, append to a source, check staleness,
refresh, assert updated aggregates."""

import datetime as dt

import pytest

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.metadata.schema import NestedField, Schema

ORDERS_SCHEMA = Schema(
    0,
    (
        NestedField(1, "id", "long", True),
        NestedField(2, "customer_id", "long", True),
        NestedField(3, "product_id", "long", True),
        NestedField(4, "date", "date", True),
        NestedField(5, "amount", "int", True),
    ),
)

BATCH1 = [
    (1, 1, 1, dt.date(2020, 1, 1), 1),
    (2, 2, 1, dt.date(2020, 1, 1), 1),
    (3, 3, 1, dt.date(2020, 1, 1), 3),
    (4, 1, 2, dt.date(2020, 2, 2), 1),
    (5, 1, 1, dt.date(2020, 2, 2), 2),
    (6, 3, 3, dt.date(2020, 2, 2), 3),
]
BATCH2 = [
    (7, 1, 3, dt.date(2020, 1, 3), 1),
    (8, 2, 1, dt.date(2020, 1, 3), 2),
    (9, 2, 2, dt.date(2020, 1, 3), 1),
]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "warehouse"))


def test_sql_view(engine, spark):
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_view("test.orders_view", "SELECT product_id, amount FROM test.orders WHERE product_id < 3")
    df = engine.scan_view("test.orders_view")
    assert df.count() == 5
    # view replays stored SQL → reflects source appends immediately
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.scan_view("test.orders_view").count() == 7  # +2 rows with product_id < 3


def test_materialized_view_refresh(engine, spark):
    """Mirror of materialized_view.rs: MV = filtered projection; stale after
    source append; refresh updates storage; fresh MV skips recompute."""
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.orders_mv", "SELECT product_id, SUM(amount) AS total FROM test.orders GROUP BY product_id"
    )
    got = {r["product_id"]: r["total"] for r in engine.scan_materialized_view("test.orders_mv").collect()}
    assert got == {1: 7, 2: 1, 3: 3}

    fresh = engine.materialized_view_freshness("test.orders_mv")
    assert fresh["test.orders"] == "fresh"
    assert engine.refresh_materialized_view("test.orders_mv") is False  # no-op when fresh

    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.materialized_view_freshness("test.orders_mv")["test.orders"] == "outdated"
    # single-table GROUP BY SUM → maintained by partial-aggregate merge
    assert engine.refresh_materialized_view("test.orders_mv") == "incremental-aggregate"
    got = {r["product_id"]: r["total"] for r in engine.scan_materialized_view("test.orders_mv").collect()}
    assert got == {1: 9, 2: 2, 3: 4}


def test_engine_sql_joins_tables_and_views(engine, spark):
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    df = engine.sql(
        "SELECT o.product_id, SUM(o.amount) AS total FROM test.orders o GROUP BY o.product_id ORDER BY 1"
    )
    assert [(r["product_id"], r["total"]) for r in df.collect()] == [(1, 7), (2, 1), (3, 3)]


# ---------------------------------------------------------------- incremental
def _rows(engine, name):
    return {tuple(r) for r in engine.scan_materialized_view(name).collect()}


def test_incremental_append_mode(engine, spark):
    """SPJ view: refresh after a source append only appends the delta to
    storage (no storage rewrite — snapshot operation stays 'append')."""
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.spj_mv", "SELECT id, amount FROM test.orders WHERE product_id = 1"
    )
    assert _rows(engine, "test.spj_mv") == {(1, 1), (2, 1), (3, 3), (5, 2)}
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.refresh_materialized_view("test.spj_mv") == "incremental-append"
    assert _rows(engine, "test.spj_mv") == {(1, 1), (2, 1), (3, 3), (5, 2), (8, 2)}
    storage = engine.load_table("test.spj_mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    assert snap.summary["operation"] == "append"
    assert snap.summary["refresh-state"]["source-table-states"] == {
        t.metadata.table_uuid: t.metadata.current_snapshot_id
    }


def test_incremental_aggregate_min_max_count(engine, spark):
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.agg_mv",
        "SELECT customer_id, COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi "
        "FROM test.orders GROUP BY customer_id",
    )
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.refresh_materialized_view("test.agg_mv") == "incremental-aggregate"
    assert _rows(engine, "test.agg_mv") == {(1, 4, 1, 2), (2, 3, 1, 2), (3, 2, 3, 3)}


def test_incremental_falls_back_to_full_after_overwrite(engine, spark):
    """A non-append source commit (DELETE) invalidates delta maintenance."""
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.full_mv",
        "SELECT product_id, SUM(amount) AS total FROM test.orders GROUP BY product_id",
    )
    engine.sql("DELETE FROM test.orders WHERE product_id = 3")
    assert engine.refresh_materialized_view("test.full_mv") == "full"
    assert _rows(engine, "test.full_mv") == {(1, 7), (2, 1)}


def test_join_agg_view_refreshes_incrementally(engine, spark):
    """Until r11 a join+GROUP BY view always refreshed full; r12 (VERDICT
    r11 #2) maintains it via affected-group recompute. The unqualified
    group key still classifies — it just recomputes without source-side
    pruning."""
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    c = engine.create_table(
        "test.cust",
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "customer_id long, name string").schema,
    )
    c.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "customer_id long, name string"))
    engine.create_materialized_view(
        "test.join_mv",
        "SELECT name, SUM(amount) AS total FROM test.orders o JOIN test.cust c "
        "ON o.customer_id = c.customer_id GROUP BY name",
    )
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.refresh_materialized_view("test.join_mv") == "incremental-join-aggregate"
    assert _rows(engine, "test.join_mv") == {("a", 5), ("b", 4), ("c", 6)}
    # forced full still works and agrees
    c.append(spark.createDataFrame([(4, "d")], "customer_id long, name string"))
    assert engine.refresh_materialized_view("test.join_mv", mode="full") == "full"
    assert _rows(engine, "test.join_mv") == {("a", 5), ("b", 4), ("c", 6)}


def test_forced_full_mode(engine, spark):
    t = engine.create_table("test.orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.fmv", "SELECT id, amount FROM test.orders WHERE amount > 1"
    )
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.refresh_materialized_view("test.fmv", mode="full") == "full"
    assert _rows(engine, "test.fmv") == {(3, 3), (5, 2), (6, 3), (8, 2)}


def test_classifier_shapes():
    from iceberg_rust_custom_spark.views.incremental import classify_view_sql

    p = classify_view_sql("SELECT a, b FROM ns.t WHERE a > 1")
    assert p.mode == "append" and p.relation == "ns.t"
    p = classify_view_sql("SELECT k, SUM(v) AS s, COUNT(*) AS n FROM ns.t GROUP BY k")
    assert p.mode == "aggregate" and p.group_keys == ("k",)
    assert p.merge_ops == {"s": "sum", "n": "sum"}
    # AVG routes to affected-group recompute since r13 (stale r12 pin)
    assert classify_view_sql("SELECT k, AVG(v) AS a FROM ns.t GROUP BY k").mode == "joinN_agg"
    p = classify_view_sql("SELECT a FROM t1 JOIN t2 ON t1.k = t2.k")
    assert p.mode == "joinN" and p.relations == ("t1", "t2")
    assert classify_view_sql("SELECT DISTINCT a FROM t") is None
    assert classify_view_sql("SELECT k, SUM(v) AS s FROM t GROUP BY k ORDER BY s") is None
    # unaliased expression key still cannot name its storage column
    assert classify_view_sql("SELECT upper(k), SUM(v) AS s FROM t GROUP BY upper(k)") is None


@pytest.mark.slow
def test_incremental_two_table_join_view_refresh(engine, spark):
    """Two-table inner-join view: after appends to BOTH sources, refresh
    runs the delta-join identity (ΔA⋈B_new ∪ A_old⋈ΔB) and APPENDS the
    delta — storage is never rewritten, and the result matches a full
    recompute exactly."""
    import pyspark.sql.types as T

    cust_schema = T.StructType(
        [
            T.StructField("cid", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    ords_schema = T.StructType(
        [
            T.StructField("oid", T.LongType(), False),
            T.StructField("cid", T.LongType(), True),
            T.StructField("amt", T.LongType(), True),
        ]
    )
    c = engine.create_table("test.cust", cust_schema)
    o = engine.create_table("test.ords", ords_schema)
    c.append(spark.createDataFrame([(1, "ann"), (2, "bob")], cust_schema))
    o.append(spark.createDataFrame([(10, 1, 5), (11, 2, 7)], ords_schema))
    engine.create_materialized_view(
        "test.join_mv",
        "SELECT o.oid, c.name, o.amt FROM test.ords o JOIN test.cust c ON o.cid = c.cid "
        "WHERE o.amt > 1",
    )
    assert _rows(engine, "test.join_mv") == {(10, "ann", 5), (11, "bob", 7)}

    # appends on both sides: a new customer with a new order, and a new
    # order for an OLD customer (exercises the A_old ⋈ ΔB term)
    c.append(spark.createDataFrame([(3, "cal")], cust_schema))
    o.append(spark.createDataFrame([(12, 3, 9), (13, 1, 2), (14, 2, 1)], ords_schema))
    assert engine.refresh_materialized_view("test.join_mv") == "incremental-join"
    assert _rows(engine, "test.join_mv") == {
        (10, "ann", 5),
        (11, "bob", 7),
        (12, "cal", 9),
        (13, "ann", 2),  # old customer × new order
    }
    storage = engine.load_table("test.join_mv__storage")
    assert storage.metadata.snapshot_for_ref().summary["operation"] == "append"

    # a delete on one source breaks the appends-only gate → full refresh
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    delete_where(engine.load_table("test.ords"), "oid = 13")
    assert engine.refresh_materialized_view("test.join_mv") == "full"
    assert _rows(engine, "test.join_mv") == {(10, "ann", 5), (11, "bob", 7), (12, "cal", 9)}


def test_classify_join_view_shapes():
    from iceberg_rust_custom_spark.views.incremental import classify_view_sql

    p = classify_view_sql(
        "SELECT a.x, b.y FROM ns.a a JOIN ns.b b ON a.k = b.k WHERE a.x > 0"
    )
    assert p is not None and p.mode == "joinN" and p.relations == ("ns.a", "ns.b")
    # rejected: SELECT * outer join (no lineage columns), self-join
    assert classify_view_sql("SELECT * FROM ns.a a LEFT JOIN ns.b b ON a.k = b.k") is None
    assert classify_view_sql("SELECT a1.x FROM ns.a a1 JOIN ns.a a2 ON a1.k = a2.k") is None
    # four relations classify since the r13 generalization (stale r12 pin)
    p4 = classify_view_sql(
        "SELECT a.x FROM ns.a a JOIN ns.b b ON a.k = b.k "
        "JOIN ns.c c ON b.j = c.j JOIN ns.d d ON c.z = d.z"
    )
    assert p4 is not None and p4.mode == "joinN" and len(p4.relations) == 4
    # 2-table aggregate join → joinN_agg; 3 relations → joinN
    p = classify_view_sql("SELECT b.g, SUM(a.x) AS s FROM ns.a a JOIN ns.b b ON a.k = b.k GROUP BY b.g")
    assert p is not None and p.mode == "joinN_agg"
    assert classify_view_sql("SELECT SUM(a.x) AS s FROM ns.a a JOIN ns.b b ON a.k = b.k") is None
    p = classify_view_sql(
        "SELECT a.x FROM ns.a a JOIN ns.b b ON a.k = b.k JOIN ns.c c ON b.j = c.j"
    )
    assert p is not None and p.mode == "joinN" and p.relations[2] == "ns.c"


def test_multi_dialect_view_representations(engine, spark):
    """VERDICT r3 item 8: a view version stores [{sql, dialect}] per the
    reference's Vec<ViewRepresentation::Sql{sql, dialect}>
    (view_metadata.rs:276-306); non-default dialects round-trip through the
    persisted JSON and legacy single-sql metadata still loads."""
    from iceberg_rust_custom_spark.views.view import ViewMetadata

    t = engine.create_table("test.ordersd", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    spark_sql = "SELECT product_id, amount FROM test.ordersd WHERE product_id < 3"
    engine.create_view("test.ordersd_v", spark_sql)
    trino_sql = 'SELECT "product_id", "amount" FROM test.ordersd WHERE "product_id" < 3'
    engine.add_view_representation("test.ordersd_v", trino_sql, "trino")

    md = engine._load_view_metadata("test.ordersd_v")
    cur = md.versions[md.current_version_id]
    assert cur.sql_for("spark") == spark_sql
    assert cur.sql_for("trino") == trino_sql
    assert cur.sql_for("duckdb") is None
    assert cur.sql == spark_sql  # primary representation unchanged
    # replay still uses the spark dialect
    assert engine.scan_view("test.ordersd_v").count() == 5
    # JSON round-trip preserves the representation list exactly
    md2 = ViewMetadata.from_json(md.to_json())
    assert md2.versions[md.current_version_id].representations == cur.representations
    # replacing a dialect keeps one representation per dialect
    v2 = cur.with_representation("SELECT 1", "trino")
    assert [r["sql"] for r in v2.representations if r["dialect"] == "trino"] == ["SELECT 1"]
    # legacy metadata (no representations key) synthesizes the primary one
    import json as _json

    legacy = _json.loads(md.to_json())
    for v in legacy["versions"]:
        v.pop("representations", None)
    md3 = ViewMetadata.from_json(_json.dumps(legacy))
    lv = md3.versions[md3.current_version_id]
    assert lv.representations == [{"type": "sql", "sql": spark_sql, "dialect": "spark"}]


def test_view_version_evolution(engine, spark):
    """Updates create NEW view versions (max+1) + version-log entries;
    existing versions are immutable (reference:
    view/transaction/operation.rs:24-90, view_metadata.rs:56-61)."""
    t = engine.create_table("test.ordersv", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    sql1 = "SELECT product_id, amount FROM test.ordersv WHERE product_id < 3"
    engine.create_view("test.ordersv_v", sql1)
    md = engine._load_view_metadata("test.ordersv_v")
    assert md.current_version_id == 1
    assert [e["version-id"] for e in md.version_log] == [1]

    # update 1: add a dialect representation -> new version 2
    engine.add_view_representation("test.ordersv_v", 'SELECT "product_id" FROM x', "trino")
    md = engine._load_view_metadata("test.ordersv_v")
    assert md.current_version_id == 2
    assert [e["version-id"] for e in md.version_log] == [1, 2]
    assert md.versions[1].sql_for("trino") is None  # v1 untouched
    assert md.versions[2].sql_for("trino") is not None
    assert md.versions[2].sql == sql1

    # update 2: ALTER VIEW ... AS -> new version 3 with new SQL
    sql3 = "SELECT product_id, amount FROM test.ordersv"
    engine.sql(f"ALTER VIEW test.ordersv_v AS {sql3}")
    md = engine._load_view_metadata("test.ordersv_v")
    assert md.current_version_id == 3
    assert [e["version-id"] for e in md.version_log] == [1, 2, 3]
    assert md.versions[3].sql == sql3
    assert md.versions[1].sql == sql1 and md.versions[2].sql == sql1
    assert engine.scan_view("test.ordersv_v").count() == 6
    # round-trip through JSON preserves the log
    from iceberg_rust_custom_spark.views.view import ViewMetadata

    md2 = ViewMetadata.from_json(md.to_json())
    assert md2.version_log == md.version_log and len(md2.versions) == 3


def test_create_or_replace_view(engine, spark):
    t = engine.create_table("test.ordersr", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.sql("CREATE VIEW test.vr AS SELECT id FROM test.ordersr WHERE amount > 1")
    assert engine.scan_view("test.vr").count() == 3
    engine.sql("CREATE OR REPLACE VIEW test.vr AS SELECT id FROM test.ordersr")
    md = engine._load_view_metadata("test.vr")
    assert md.current_version_id == 2
    assert engine.scan_view("test.vr").count() == 6
    # plain CREATE over an existing view without OR REPLACE: new view from scratch is
    # not silently applied — IF NOT EXISTS short-circuits
    engine.sql("CREATE VIEW IF NOT EXISTS test.vr AS SELECT 1 AS x")
    assert engine._load_view_metadata("test.vr").current_version_id == 2


def test_alter_mv_sql_triggers_refresh(engine, spark):
    """After ALTER of an MV's SQL, freshness reports the version outdated
    and the next refresh recomputes under the NEW current version."""
    t = engine.create_table("test.ordersm", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.sql(
        "CREATE MATERIALIZED VIEW test.mv_alter AS "
        "SELECT product_id, SUM(amount) AS s FROM test.ordersm GROUP BY product_id"
    )
    assert engine.scan_materialized_view("test.mv_alter").count() == 3
    engine.sql(
        "ALTER MATERIALIZED VIEW test.mv_alter AS "
        "SELECT customer_id, SUM(amount) AS s FROM test.ordersm GROUP BY customer_id"
    )
    fresh = engine.materialized_view_freshness("test.mv_alter")
    assert fresh.get("__version__") == "outdated"
    assert engine.refresh_materialized_view("test.mv_alter")
    got = {r.customer_id: r.s for r in engine.scan_materialized_view("test.mv_alter").collect()}
    assert got == {1: 4, 2: 1, 3: 6}


def test_scan_view_pinned_version(engine, spark):
    """Historical view versions stay queryable by version_id after
    CREATE OR REPLACE (view analogue of table time travel)."""
    t = engine.create_table("test.ordersp", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.sql("CREATE VIEW test.vp AS SELECT id FROM test.ordersp WHERE amount > 1")
    engine.sql("CREATE OR REPLACE VIEW test.vp AS SELECT id FROM test.ordersp")
    assert engine.scan_view("test.vp").count() == 6
    assert engine.scan_view("test.vp", version_id=1).count() == 3
    import pytest as _pytest

    with _pytest.raises(KeyError, match="no version 9"):
        engine.scan_view("test.vp", version_id=9)


def test_branch_scoped_mv_freshness(engine, spark):
    """r8 (VERDICT task 5): RefreshState keys by (uuid, branch) per the
    reference's SourceTables map (materialized_view_metadata.rs:33-48) —
    an MV over a dev-branch read goes stale on a dev commit and STAYS FRESH
    on an unrelated main commit."""
    t = engine.create_table("test.b_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    t.create_branch("dev")
    engine.create_materialized_view(
        "test.dev_mv", "SELECT product_id, amount FROM test.b_orders.branch_dev"
    )
    fresh = engine.materialized_view_freshness("test.dev_mv")
    assert fresh["test.b_orders.branch_dev"] == "fresh"
    assert engine.refresh_materialized_view("test.dev_mv") is False

    # main-branch commit: dev head unchanged -> MV stays fresh
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    fresh = engine.materialized_view_freshness("test.dev_mv")
    assert fresh["test.b_orders.branch_dev"] == "fresh"
    assert engine.refresh_materialized_view("test.dev_mv") is False
    assert engine.scan_materialized_view("test.dev_mv").count() == len(BATCH1)

    # dev-branch commit -> stale; refresh picks up the dev rows only
    t.append(
        spark.createDataFrame([(99, 9, 9, dt.date(2021, 1, 1), 7)], ORDERS_SCHEMA.spark_schema()),
        branch="dev",
    )
    fresh = engine.materialized_view_freshness("test.dev_mv")
    assert fresh["test.b_orders.branch_dev"] == "outdated"
    assert engine.refresh_materialized_view("test.dev_mv")
    assert engine.scan_materialized_view("test.dev_mv").count() == len(BATCH1) + 1
    assert engine.materialized_view_freshness("test.dev_mv")["test.b_orders.branch_dev"] == "fresh"


def test_main_mv_unaffected_by_branch_commit(engine, spark):
    """The complement: an MV over the MAIN read stays fresh when only a
    branch advances."""
    t = engine.create_table("test.m_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    t.create_branch("dev")
    engine.create_materialized_view(
        "test.main_mv", "SELECT product_id, SUM(amount) AS total FROM test.m_orders GROUP BY product_id"
    )
    assert engine.refresh_materialized_view("test.main_mv") is False
    t.append(
        spark.createDataFrame([(99, 9, 9, dt.date(2021, 1, 1), 7)], ORDERS_SCHEMA.spark_schema()),
        branch="dev",
    )
    assert engine.materialized_view_freshness("test.main_mv")["test.m_orders"] == "fresh"
    assert engine.refresh_materialized_view("test.main_mv") is False


@pytest.mark.slow
def test_changelog_spj_refresh_under_mor_rowlevel_ops(engine, spark):
    """r8 (VERDICT task 2): an SPJ view over a source receiving MoR
    DELETE + UPDATE refreshes via the row-level changelog (storage ∖ Δ⁻ ∪
    Δ⁺) instead of a full recompute, and hash-matches one."""
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    t = engine.create_table("test.ch_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.ch_spj", "SELECT id, amount FROM test.ch_orders WHERE product_id = 1"
    )
    assert _rows(engine, "test.ch_spj") == {(1, 1), (2, 1), (3, 3), (5, 2)}
    delete_where(t, "id = 2", mode="merge-on-read")
    update_where(t, {"amount": "amount + 10"}, "id = 3", mode="merge-on-read")
    t.append(spark.createDataFrame(BATCH2, ORDERS_SCHEMA.spark_schema()))
    assert engine.refresh_materialized_view("test.ch_spj") == "incremental-changelog"
    assert _rows(engine, "test.ch_spj") == {(1, 1), (3, 13), (5, 2), (8, 2)}
    # matches a from-scratch recompute
    want = {
        (r.id, r.amount)
        for r in engine.sql("SELECT id, amount FROM test.ch_orders WHERE product_id = 1").collect()
    }
    assert _rows(engine, "test.ch_spj") == want
    # next refresh: fresh
    assert engine.refresh_materialized_view("test.ch_spj") is False


def test_changelog_aggregate_refresh_min_max_and_group_disappearance(engine, spark):
    """GROUP BY views recompute ONLY affected groups — MIN/MAX survive a
    delete (not subtractable → recompute), and a group whose rows all die
    disappears from the MV."""
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    t = engine.create_table("test.cg_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.cg_mv",
        "SELECT customer_id, COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi "
        "FROM test.cg_orders GROUP BY customer_id",
    )
    assert _rows(engine, "test.cg_mv") == {(1, 3, 1, 2), (2, 1, 1, 1), (3, 2, 3, 3)}
    # delete customer 3 entirely (group disappears) and one of customer 1's
    # rows with the MAX amount (min/max must recompute, not subtract)
    delete_where(t, "customer_id = 3", mode="merge-on-read")
    delete_where(t, "id = 5", mode="merge-on-read")  # customer 1, amount 2
    assert engine.refresh_materialized_view("test.cg_mv") == "incremental-changelog-aggregate"
    assert _rows(engine, "test.cg_mv") == {(1, 2, 1, 1), (2, 1, 1, 1)}
    snap = engine.load_table("test.cg_mv__storage").metadata.snapshot_for_ref()
    assert snap.summary["refresh-state"]["source-table-states"] == {
        t.metadata.table_uuid: t.metadata.current_snapshot_id
    }


def test_changelog_aggregate_prunes_source_by_affected_groups(engine, spark, monkeypatch):
    """The affected-group recompute reads the source through join_scan
    (runtime file pruning on the group keys) — storage rewrite reads only
    delta-relevant source files, not the table."""
    from iceberg_rust_custom_spark.table.maintenance import delete_where
    from iceberg_rust_custom_spark.table.table import Table

    t = engine.create_table("test.cp_orders", ORDERS_SCHEMA)
    # two files with disjoint customer ranges
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    far = [(100 + i, 50 + i, 1, dt.date(2022, 1, 1), 5) for i in range(6)]
    t.append(spark.createDataFrame(far, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.cp_mv",
        "SELECT customer_id, SUM(amount) AS total FROM test.cp_orders GROUP BY customer_id",
    )
    calls = {}
    orig = Table.join_scan

    def spy(self, dim_df, on, **kw):
        out = orig(self, dim_df, on, **kw)
        calls["planned"] = self.count_planned_files(
            __import__(
                "iceberg_rust_custom_spark.table.runtime_filter", fromlist=["join_key_predicate"]
            ).join_key_predicate(dim_df, on)
        )
        calls["total"] = self.count_planned_files()
        return out

    monkeypatch.setattr(Table, "join_scan", spy)
    delete_where(t, "id = 1", mode="merge-on-read")  # customer 1, first file only
    assert engine.refresh_materialized_view("test.cp_mv") == "incremental-changelog-aggregate"
    assert calls and calls["planned"] < calls["total"], calls
    assert _rows(engine, "test.cp_mv") == {
        (r.customer_id, r.total)
        for r in engine.sql(
            "SELECT customer_id, SUM(amount) AS total FROM test.cp_orders GROUP BY customer_id"
        ).collect()
    }


def test_changelog_refresh_with_equality_delete(engine, spark):
    """delete_by_key (equality delete) in the delta range maintains the MV
    through the changelog's eq-victim computation (r8 task 4 + task 2)."""
    from iceberg_rust_custom_spark.table.maintenance import delete_by_key

    t = engine.create_table("test.eq_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.eq_mv", "SELECT id, amount FROM test.eq_orders WHERE amount >= 1"
    )
    delete_by_key(t, [1, 6], key_cols=["id"])
    assert engine.refresh_materialized_view("test.eq_mv") == "incremental-changelog"
    assert _rows(engine, "test.eq_mv") == {(2, 1), (3, 3), (4, 1), (5, 2)}


def test_changelog_full_fallback_after_cow(engine, spark):
    """A CoW row-level op (file-set replacement) still forces a full
    refresh — row identity is gone."""
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    t = engine.create_table("test.cw_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.cw_mv", "SELECT id, amount FROM test.cw_orders WHERE amount >= 1"
    )
    delete_where(t, "id = 2", mode="copy-on-write")
    assert engine.refresh_materialized_view("test.cw_mv") == "full"
    assert _rows(engine, "test.cw_mv") == {(1, 1), (3, 3), (4, 1), (5, 2), (6, 3)}


@pytest.mark.slow
def test_changelog_two_table_join_signed_deltas(engine, spark):
    """r8: a two-table join MV maintained through MoR row-level ops on
    either source via SIGNED changelog deltas — including the cross-term
    cancellation (an A-row deleted in-range joining a B-row inserted
    in-range appears in both Δ⁺V and Δ⁻V and must net to zero, which only
    the union-positives-first order gets right)."""
    import pyspark.sql.types as T

    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    cust_schema = T.StructType(
        [
            T.StructField("cid", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    ords_schema = T.StructType(
        [
            T.StructField("oid", T.LongType(), False),
            T.StructField("cid", T.LongType(), True),
            T.StructField("amt", T.LongType(), True),
        ]
    )
    c = engine.create_table("test.jc_cust", cust_schema)
    o = engine.create_table("test.jc_ords", ords_schema)
    c.append(spark.createDataFrame([(1, "ann"), (2, "bob"), (3, "cal")], cust_schema))
    o.append(spark.createDataFrame([(10, 1, 5), (11, 2, 7), (12, 3, 9)], ords_schema))
    engine.create_materialized_view(
        "test.jc_mv",
        "SELECT o.oid, c.name, o.amt FROM test.jc_ords o JOIN test.jc_cust c ON o.cid = c.cid "
        "WHERE o.amt > 1",
    )
    assert _rows(engine, "test.jc_mv") == {(10, "ann", 5), (11, "bob", 7), (12, "cal", 9)}

    # MoR delete on A (orders), MoR update on A, append on B (customers),
    # and the cross term: order 10 (ann) is deleted in-range while a NEW
    # customer 4 arrives in-range with an order inserted in-range for it
    delete_where(o, "oid = 10", mode="merge-on-read")
    update_where(o, {"amt": "amt + 100"}, "oid = 11", mode="merge-on-read")
    o.append(spark.createDataFrame([(13, 4, 2)], ords_schema))
    c.append(spark.createDataFrame([(4, "dee")], cust_schema))
    assert engine.refresh_materialized_view("test.jc_mv") == "incremental-changelog-join"
    want = {
        (r.oid, r.name, r.amt)
        for r in engine.sql(
            "SELECT o.oid, c.name, o.amt FROM test.jc_ords o JOIN test.jc_cust c "
            "ON o.cid = c.cid WHERE o.amt > 1"
        ).collect()
    }
    assert want == {(11, "bob", 107), (12, "cal", 9), (13, "dee", 2)}
    assert _rows(engine, "test.jc_mv") == want
    # storage was rewritten, not appended (deletes shrink V)
    storage = engine.load_table("test.jc_mv__storage")
    assert storage.metadata.snapshot_for_ref().summary["operation"] == "overwrite"
    # next refresh: fresh
    assert engine.refresh_materialized_view("test.jc_mv") is False


@pytest.mark.slow
def test_changelog_two_table_join_delete_on_dim_side(engine, spark):
    """A MoR delete on the DIMENSION source (B) removes every joined row —
    the A_old ⋈ Δ⁻B term."""
    import pyspark.sql.types as T

    from iceberg_rust_custom_spark.table.maintenance import delete_where

    cust_schema = T.StructType(
        [
            T.StructField("cid", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    ords_schema = T.StructType(
        [
            T.StructField("oid", T.LongType(), False),
            T.StructField("cid", T.LongType(), True),
            T.StructField("amt", T.LongType(), True),
        ]
    )
    c = engine.create_table("test.jd_cust", cust_schema)
    o = engine.create_table("test.jd_ords", ords_schema)
    c.append(spark.createDataFrame([(1, "ann"), (2, "bob")], cust_schema))
    o.append(spark.createDataFrame([(10, 1, 5), (11, 1, 3), (12, 2, 7)], ords_schema))
    engine.create_materialized_view(
        "test.jd_mv",
        "SELECT o.oid, c.name FROM test.jd_ords o JOIN test.jd_cust c ON o.cid = c.cid",
    )
    delete_where(c, "cid = 1", mode="merge-on-read")
    assert engine.refresh_materialized_view("test.jd_mv") == "incremental-changelog-join"
    assert _rows(engine, "test.jd_mv") == {(12, "bob")}
    # a CoW op on either side still forces a full refresh
    delete_where(o, "oid = 12", mode="copy-on-write")
    assert engine.refresh_materialized_view("test.jd_mv") == "full"
    assert _rows(engine, "test.jd_mv") == set()


def test_changelog_spj_uses_row_id_antijoin_not_exceptall(engine, spark, monkeypatch):
    """r8 scale path: SPJ storage carries the hidden source-row-id column
    and changelog delete maintenance anti-joins on it — exceptAll (a
    full-width storage shuffle) must not run."""
    from pyspark.sql import DataFrame

    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.views.incremental import SRC_ROW_ID

    t = engine.create_table("test.aj_orders", ORDERS_SCHEMA)
    t.append(spark.createDataFrame(BATCH1, ORDERS_SCHEMA.spark_schema()))
    engine.create_materialized_view(
        "test.aj_mv", "SELECT id, amount FROM test.aj_orders WHERE product_id = 1"
    )
    storage = engine.load_table("test.aj_mv__storage")
    assert SRC_ROW_ID in [f.name for f in storage.metadata.current_schema().fields]
    # hidden column never leaks to readers
    assert SRC_ROW_ID not in engine.scan_materialized_view("test.aj_mv").columns
    assert SRC_ROW_ID not in engine.sql("SELECT * FROM test.aj_mv").columns

    delete_where(t, "id = 2", mode="merge-on-read")
    update_where(t, {"amount": "amount + 10"}, "id = 3", mode="merge-on-read")

    def banned(self, other):
        raise AssertionError("exceptAll ran — the anti-join path was not taken")

    monkeypatch.setattr(DataFrame, "exceptAll", banned)
    assert engine.refresh_materialized_view("test.aj_mv") == "incremental-changelog"
    monkeypatch.undo()
    assert _rows(engine, "test.aj_mv") == {(1, 1), (3, 13), (5, 2)}
