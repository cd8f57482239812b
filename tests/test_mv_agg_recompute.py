"""Affected-group recompute for single-table GROUP BY views the
partial-merge path cannot maintain — non-decomposable aggregates
(AVG/STDDEV/MEDIAN), expression group keys (``GROUP BY
date_trunc('month', ts)``, the standard time-rollup MV) and HAVING.

These views are the n = 1 case of the n-relation joinN_agg path
(``_joinN_agg_plan`` / ``Engine._incremental_joinN_agg_refresh``):
recompute ONLY the affected groups, eq-delete + append commit, label
``incremental-agg-recompute``. A ``date_trunc`` key prunes the source by
the RAW column envelope ``col ∈ [min_bucket, max_bucket + 1 unit]``.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import classify_view_sql


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_agg_recompute_classifier_shapes(spark):
    p = classify_view_sql(
        spark,
        "SELECT date_trunc('month', ts) AS mo, avg(v) AS av FROM t "
        "GROUP BY date_trunc('month', ts)"
    )
    # the n = 1 joinN_agg plan: one relation, no equi keys, key sources
    # as (slot, column[, unit]) with an unqualified column on slot 0
    assert p is not None and p.mode == "joinN_agg" and p.relations == ("t",)
    assert p.group_keys == ("mo",) and p.key_sources == ((0, "ts", "month"),)
    assert p.probe_sql == "SELECT date_trunc('month', ts) AS mo FROM t"
    assert p.equi_keys == ()
    p = classify_view_sql(spark, "SELECT g, avg(v) AS av FROM t GROUP BY g")
    assert p is not None and p.mode == "joinN_agg" and p.relations == ("t",)
    assert p.key_sources == ((0, "g"),)
    # decomposable aggregates stay on the cheaper partial-merge path
    p = classify_view_sql(spark, "SELECT g, sum(v) AS s FROM t GROUP BY g")
    assert p.mode == "aggregate" and p.relations == ("t",)
    # whitelisted deterministic expression keys classify without pruning
    p = classify_view_sql(spark, "SELECT upper(g) AS ug, avg(v) AS av FROM t GROUP BY upper(g)")
    assert p is not None and p.mode == "joinN_agg" and p.key_sources == (None,)
    # an aliased single relation takes the same path, qualified keys on slot 0
    p = classify_view_sql(spark, "SELECT x.g, avg(x.v) AS av FROM ns.t x GROUP BY x.g")
    assert p is not None and p.mode == "joinN_agg" and p.relations == ("ns.t",)
    assert p.key_sources == ((0, "g"),)
    # ruled out: unaliased expression key, non-whitelisted aggregate, and
    # NONDETERMINISTIC / time-dependent keys (review r13: an
    # affected-group commit under such a key would mix two key epochs)
    assert classify_view_sql(
        spark,
        "SELECT date_trunc('month', ts), avg(v) AS av FROM t "
        "GROUP BY date_trunc('month', ts)"
    ) is None
    assert classify_view_sql(spark, "SELECT g, collect_list(v) AS l FROM t GROUP BY g") is None
    for nondet in [
        "SELECT datediff(current_date(), ts) AS age, avg(v) AS av FROM t "
        "GROUP BY datediff(current_date(), ts)",
        "SELECT cast(rand() * 10 AS int) AS b, avg(v) AS av FROM t "
        "GROUP BY cast(rand() * 10 AS int)",
    ]:
        assert classify_view_sql(spark, nondet) is None, nondet


_SQL = (
    "SELECT date_trunc('month', ts) AS mo, avg(v) AS av, count(v) AS n "
    "FROM ar.t WHERE v >= 0 GROUP BY date_trunc('month', ts)"
)


def _ts(month, day):
    return dt.datetime(2024, month, day, 12, 0, 0)


def _mk(eng, spark, n=600):
    t = eng.create_table(
        "ar.t",
        spark.range(1).select(
            F.col("id").alias("k"),
            F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        ).schema,
        sort_by=["ts"],
        properties={"write.distribution-mode": "range"},
    )
    t.append(
        spark.range(n).select(
            F.col("id").alias("k"),
            F.expr("timestampadd(DAY, CAST(id % 180 AS INT), TIMESTAMP '2024-01-01 06:00:00')").alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    return t


def _check(eng, spark, tag):
    got = sorted(
        (str(r.mo), round(r.av, 9), r.n)
        for r in eng.scan_materialized_view("ar.mv").collect()
    )
    want = sorted((str(r.mo), round(r.av, 9), r.n) for r in eng.sql(_SQL).collect())
    assert got == want, (tag, got[:3], want[:3])


@pytest.mark.slow
def test_time_rollup_avg_mv_refreshes_incrementally(eng, spark):
    """AVG + GROUP BY date_trunc('month', ts): every delta refreshes via
    affected-group recompute with group-keyed eq-delete + append commits
    that never rewrite a pre-existing storage file."""
    t = _mk(eng, spark)
    eng.create_materialized_view("ar.mv", _SQL)
    storage = eng.load_table("ar.mv__storage")
    key_id = storage.metadata.current_schema().field_by_name("mo").field_id
    _check(eng, spark, "initial")
    before = {
        f.file_path
        for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    # append touching one month
    t.append(
        spark.createDataFrame(
            [(9000, _ts(3, 15), 42.0), (9001, _ts(3, 20), 7.0)],
            "k long, ts timestamp, v double",
        )
    )
    assert eng.refresh_materialized_view("ar.mv") == "incremental-agg-recompute"
    _check(eng, spark, "append")
    # MoR delete across two months
    delete_where(t, "k >= 100 AND k < 140", mode="merge-on-read")
    assert eng.refresh_materialized_view("ar.mv") == "incremental-agg-recompute"
    _check(eng, spark, "mor-delete")
    # MoR update changes an aggregate input
    update_where(t, {"v": "v + 0.5"}, "k % 50 = 3", mode="merge-on-read")
    assert eng.refresh_materialized_view("ar.mv") == "incremental-agg-recompute"
    _check(eng, spark, "mor-update")
    # WHERE-filtered delta affects no group: state-only noop
    t.append(
        spark.createDataFrame([(9100, _ts(2, 2), -5.0)], "k long, ts timestamp, v double")
    )
    assert eng.refresh_materialized_view("ar.mv") == "incremental-noop"
    _check(eng, spark, "noop")
    storage = eng.load_table("ar.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "agg-recompute refresh rewrote pre-existing storage files"
    eqs = [
        e.data_file
        for e in plan_delete_files(storage.metadata, snap)
        if e.data_file.content == 2
    ]
    assert eqs and all(set(d.equality_ids or ()) == {key_id} for d in eqs)
    assert eng.refresh_materialized_view("ar.mv") is False


@pytest.mark.slow
def test_agg_recompute_plain_column_key(eng, spark):
    """AVG over a plain-column group key prunes the recompute scan by the
    affected key set (the join_key_predicate IN/range path)."""
    t = eng.create_table(
        "pc.t",
        spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("g"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    t.append(
        spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") % 50).alias("g"), (F.col("id") * 1.0).alias("v")
        )
    )
    sql = "SELECT g, avg(v) AS av, stddev(v) AS sd FROM pc.t GROUP BY g"
    eng.create_materialized_view("pc.mv", sql)

    def check(tag):
        got = sorted(
            (r.g, round(r.av, 9), round(r.sd or 0.0, 9))
            for r in eng.scan_materialized_view("pc.mv").collect()
        )
        want = sorted(
            (r.g, round(r.av, 9), round(r.sd or 0.0, 9)) for r in eng.sql(sql).collect()
        )
        assert got == want, tag

    check("initial")
    t.append(spark.createDataFrame([(9000, 7, 100.0)], "k long, g long, v double"))
    assert eng.refresh_materialized_view("pc.mv") == "incremental-agg-recompute"
    check("append")
    delete_where(t, "k % 9 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("pc.mv") == "incremental-agg-recompute"
    check("delete")


@pytest.mark.slow
def test_agg_recompute_falls_back_to_full_on_hard_shapes(eng, spark):
    """NULL group keys and file-set-replacing source rewrites route to a
    full refresh — never a wrong answer."""
    t = _mk(eng, spark, n=200)
    eng.create_materialized_view("ar.mv", _SQL)
    _check(eng, spark, "initial")
    # a NULL ts lands in a NULL group: full refresh, never wrong
    t.append(
        spark.createDataFrame([(9000, None, 1.0)], "k long, ts timestamp, v double")
    )
    assert eng.refresh_materialized_view("ar.mv") == "full"
    _check(eng, spark, "null-key")
    # clean delta afterwards goes incremental again
    t.append(
        spark.createDataFrame([(9001, _ts(4, 4), 2.0)], "k long, ts timestamp, v double")
    )
    assert eng.refresh_materialized_view("ar.mv") == "incremental-agg-recompute"
    _check(eng, spark, "clean-delta")
    # CoW delete (file-set replacement) breaks the anchor
    delete_where(t, "k = 10", mode="copy-on-write")
    assert eng.refresh_materialized_view("ar.mv") == "full"
    _check(eng, spark, "cow")


@pytest.mark.slow
def test_having_group_threshold_crossings(eng, spark):
    """r13: HAVING routes to the recompute path, which evaluates it
    naturally — a delta pushing a group BELOW the threshold removes it
    from the MV (eq-deleted, not re-appended), and one pushing a group
    ABOVE it makes it appear."""
    t = eng.create_table(
        "hv.t",
        spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("g"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    # groups 0..9 with 6 rows each
    t.append(
        spark.range(60).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g"), (F.col("id") * 1.0).alias("v")
        )
    )
    sql = "SELECT g, count(v) AS n, avg(v) AS av FROM hv.t GROUP BY g HAVING count(v) >= 5"
    from iceberg_rust_custom_spark.views.incremental import classify_view_sql

    assert classify_view_sql(spark, sql).mode == "joinN_agg"
    eng.create_materialized_view("hv.mv", sql)

    def check(tag):
        got = sorted((r.g, r.n, r.av) for r in eng.scan_materialized_view("hv.mv").collect())
        want = sorted((r.g, r.n, r.av) for r in eng.sql(sql).collect())
        assert got == want, (tag, got, want)

    check("initial")
    assert eng.scan_materialized_view("hv.mv").count() == 10
    # group 3 drops to 4 rows: falls below the threshold and DISAPPEARS
    delete_where(t, "g = 3 AND k < 33", mode="merge-on-read")
    assert eng.refresh_materialized_view("hv.mv") == "incremental-agg-recompute"
    check("drop-below")
    assert eng.scan_materialized_view("hv.mv").where("g = 3").count() == 0
    # new group 10 crosses the threshold upward and APPEARS
    t.append(
        spark.createDataFrame(
            [(100 + i, 10, 1.0 * i) for i in range(5)], "k long, g long, v double"
        )
    )
    assert eng.refresh_materialized_view("hv.mv") == "incremental-agg-recompute"
    check("cross-above")
    assert eng.scan_materialized_view("hv.mv").where("g = 10").count() == 1
