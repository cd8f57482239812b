"""r12 (VERDICT r11 #2): incremental maintenance for two-table inner-join
GROUP BY materialized views — the TPC-H q5 star shape, the most common
production MV. The reference registers empty ``__delta__`` placeholder
tables for exactly this and never implements it
(datafusion_iceberg/src/materialized_view.rs:147-159).

Affected groups are discovered by running the view's group-key projection
over the delta-join arms (ΔA ⋈ B_new ∪ A_old ⋈ ΔB, all change events),
recomputed exactly from affected-key-pruned source scans, and committed
delta-sized: group-keyed MoR equality deletes + an append — untouched
groups' storage files are never read or rewritten."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import classify_view_sql


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_classify_join_agg_shapes(spark):
    p = classify_view_sql(
        spark,
        "SELECT n.nname, sum(o.price) AS revenue FROM t.o o JOIN t.n n "
        "ON o.nk = n.nk WHERE o.price > 0 GROUP BY n.nname"
    )
    assert p is not None and p.mode == "joinN_agg"
    assert p.group_keys == ("nname",)
    assert p.equi_keys == (((0, 1), (("nk", "nk"),)),)
    assert p.key_sources == ((1, "nname"),)
    assert p.probe_sql.startswith("SELECT n.nname AS nname FROM t.o o JOIN t.n n")
    # compound ON keys + aliased key + aggregates the MERGE path can't do
    p = classify_view_sql(
        spark,
        "SELECT a.g AS gg, avg(b.v) AS m, stddev(b.v) AS s FROM ta a "
        "JOIN tb b ON a.k = b.k AND a.j = b.j GROUP BY a.g"
    )
    assert p is not None and p.mode == "joinN_agg"
    assert p.group_keys == ("gg",) and p.equi_keys == (((0, 1), (("k", "k"), ("j", "j"))),)
    # HAVING is admitted since r13 — the affected-group recompute path
    # evaluates it (a group failing HAVING is eq-deleted, not re-appended)
    p = classify_view_sql(
        spark,
        "SELECT a.g, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = b.k GROUP BY a.g HAVING sum(b.v) > 1"
    )
    assert p is not None and p.mode == "joinN_agg"
    # the single-table key grammar holds for every n: a whitelisted
    # deterministic function key classifies, with no key source
    p = classify_view_sql(
        spark,
        "SELECT upper(a.g) AS g2, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = b.k GROUP BY upper(a.g)"
    )
    assert p is not None and p.mode == "joinN_agg" and p.key_sources == (None,)
    # ruled out: outer join, non-key bare column, derived key outside the
    # whitelist, unaliased aggregate, ORDER BY, subquery, self-join
    for bad in [
        "SELECT a.g, sum(b.v) AS s FROM ta a LEFT JOIN tb b ON a.k = b.k GROUP BY a.g",
        "SELECT a.g, sum(b.v) AS s, b.h FROM ta a JOIN tb b ON a.k = b.k GROUP BY a.g",
        "SELECT concat(a.g, 'x') AS g2, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = b.k "
        "GROUP BY concat(a.g, 'x')",
        "SELECT a.g, sum(b.v) FROM ta a JOIN tb b ON a.k = b.k GROUP BY a.g",
        "SELECT a.g, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = b.k GROUP BY a.g ORDER BY a.g",
        "SELECT a.g, sum(b.v) AS s FROM ta a JOIN ta b ON a.k = b.k GROUP BY a.g",
        "SELECT a.g, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = (SELECT max(k) FROM tb) GROUP BY a.g",
    ]:
        got = classify_view_sql(spark, bad)
        assert got is None or got.mode != "joinN_agg", bad
    # 'left' inside a literal is no join type: the plan of the 'east' twin,
    # whose probe carries the same WHERE
    sql = (
        "SELECT a.g, sum(b.v) AS s FROM ta a JOIN tb b ON a.k = b.k "
        "WHERE a.side = '{}' GROUP BY a.g"
    )
    got = classify_view_sql(spark, sql.format("left"))
    twin = classify_view_sql(spark, sql.format("east"))
    assert got is not None and twin is not None
    assert got.probe_sql == twin.probe_sql.replace("'east'", "'left'")
    assert dataclasses.replace(got, probe_sql=twin.probe_sql) == twin
    # single-table shapes keep their existing classifications
    assert classify_view_sql(spark, "SELECT k, sum(v) AS s FROM t GROUP BY k").mode == "aggregate"
    assert classify_view_sql(spark, "SELECT a.x FROM t1 a JOIN t2 b ON a.k = b.k").mode == "joinN"


_SQL = (
    "SELECT n.nname, sum(o.price) AS revenue, count(o.ok) AS cnt, "
    "avg(o.price) AS avg_price "
    "FROM jag.o o JOIN jag.n n ON o.nk = n.nk WHERE o.price >= 0 GROUP BY n.nname"
)


def _mk(eng, spark, n_orders=1000, n_nations=7):
    o = eng.create_table(
        "jag.o",
        spark.range(1).select(
            F.col("id").alias("ok"), F.col("id").alias("nk"), (F.col("id") * 1.0).alias("price")
        ).schema,
    )
    o.append(
        spark.range(n_orders).select(
            F.col("id").alias("ok"),
            (F.col("id") % n_nations).alias("nk"),
            (F.col("id") * 1.0).alias("price"),
        )
    )
    n = eng.create_table(
        "jag.n",
        spark.range(1).select(
            F.col("id").alias("nk"), F.concat(F.lit("n"), F.col("id")).alias("nname")
        ).schema,
    )
    n.append(
        spark.range(n_nations).select(
            F.col("id").alias("nk"), F.concat(F.lit("n"), F.col("id")).alias("nname")
        )
    )
    return o, n


def _check(eng, tag=""):
    got = sorted(
        (r.nname or "", round(r.revenue, 6), r.cnt, round(r.avg_price, 6))
        for r in eng.scan_materialized_view("jag.mv").collect()
    )
    want = sorted(
        (r.nname or "", round(r.revenue, 6), r.cnt, round(r.avg_price, 6))
        for r in eng.sql(_SQL).collect()
    )
    assert got == want, (tag, got[:3], want[:3])


def test_join_agg_mv_with_keyword_literal_refreshes_incrementally(eng, spark):
    """A join-aggregate view filtering on the literal 'left' refreshes
    incrementally, and its rows equal a full recompute."""

    def side_rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            F.when(F.col("id") % 3 == 0, "left").otherwise("right").alias("side"),
        )

    def fact_rows(lo, hi):
        return spark.range(lo, hi).select((F.col("id") % 40).alias("k"), F.col("id").alias("v"))

    eng.create_table("kw.a", side_rows(0, 1).schema).append(side_rows(0, 40))
    eng.create_table("kw.b", fact_rows(0, 1).schema).append(fact_rows(0, 200))
    sql = (
        "SELECT a.g, sum(b.v) AS s, count(*) AS n FROM kw.a a JOIN kw.b b ON a.k = b.k "
        "WHERE a.side = 'left' GROUP BY a.g"
    )
    eng.create_materialized_view("kw.mv", sql)
    eng.load_table("kw.b").append(fact_rows(200, 230))
    assert eng.refresh_materialized_view("kw.mv") == "incremental-join-aggregate"
    got, want = eng.scan_materialized_view("kw.mv"), eng.sql(sql)
    assert got.count() == 4
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.slow
def test_join_agg_mv_delta_refresh_is_group_keyed_and_exact(eng, spark):
    """The driver-style gate: a small delta refresh must (a) never rewrite
    a pre-existing storage file (file-path-asserted), (b) commit Δ⁻ as
    equality deletes keyed on the GROUP KEY column, and (c) keep content
    equal to a full recompute across append / fact-delete / dim-rename /
    dim-delete deltas."""
    o, n = _mk(eng, spark)
    eng.create_materialized_view("jag.mv", _SQL)
    storage = eng.load_table("jag.mv__storage")
    schema = storage.metadata.current_schema()
    key_ids = {schema.field_by_name("nname").field_id}
    _check(eng, "initial")

    # 1. appends-only delta (touches 2 of 7 nations)
    before = {
        f.file_path for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    o.append(
        spark.createDataFrame(
            [(2000, 1, 5.0), (2001, 1, 6.0), (2002, 2, 7.0)], "ok long, nk long, price double"
        )
    )
    assert eng.refresh_materialized_view("jag.mv") == "incremental-join-aggregate"
    storage = eng.load_table("jag.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "pre-existing storage files were rewritten"
    eqs = [e.data_file for e in plan_delete_files(storage.metadata, snap) if e.data_file.content == 2]
    assert eqs, "expected group-keyed equality-delete tombstones"
    assert all(set(d.equality_ids or ()) == key_ids for d in eqs)
    assert all("nname" in (d.lower_bounds or {}) for d in eqs)  # victim-prunable
    _check(eng, "append")

    # 2. MoR delete on the fact side
    delete_where(o, "ok % 13 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("jag.mv") == "incremental-join-aggregate"
    _check(eng, "fact-delete")

    # 3. dim update that RENAMES a group: old group row disappears, new appears
    update_where(n, {"nname": "concat(nname, '_x')"}, "nk = 3", mode="merge-on-read")
    assert eng.refresh_materialized_view("jag.mv") == "incremental-join-aggregate"
    _check(eng, "dim-rename")
    names = {r.nname for r in eng.scan_materialized_view("jag.mv").collect()}
    assert "n3_x" in names and "n3" not in names

    # 4. dim delete: the whole group vanishes (COUNT→0 emits no row)
    delete_where(n, "nk = 5", mode="merge-on-read")
    assert eng.refresh_materialized_view("jag.mv") == "incremental-join-aggregate"
    _check(eng, "dim-delete")
    assert "n5" not in {r.nname for r in eng.scan_materialized_view("jag.mv").collect()}

    # 5. already fresh → False; a no-row-effect commit is state-only
    assert eng.refresh_materialized_view("jag.mv") is False


@pytest.mark.slow
def test_join_agg_mv_full_side_arms_prune_by_delta_keys(eng, spark):
    """The affected-group probe's full-side arms file-prune by the delta's
    join-key values: a 30-row dim update against a 20k-row range-clustered
    fact must not plan every fact file."""
    n_rows = 20000
    o = eng.create_table(
        "jp.o",
        spark.range(1).select(
            F.col("id").alias("ok"), F.col("id").alias("nk"), (F.col("id") * 1.0).alias("price")
        ).schema,
        sort_by=["nk"],
        properties={"write.distribution-mode": "range", "write.range-partitions": "6"},
    )
    o.append(
        spark.range(n_rows).select(
            F.col("id").alias("ok"), (F.col("id") % 2000).alias("nk"), (F.col("id") * 1.0).alias("price")
        )
    )
    n = eng.create_table(
        "jp.n",
        spark.range(1).select(
            F.col("id").alias("nk"), F.concat(F.lit("n"), F.col("id")).alias("nname")
        ).schema,
    )
    n.append(
        spark.range(2000).select(
            F.col("id").alias("nk"), F.concat(F.lit("n"), F.col("id")).alias("nname")
        )
    )
    sql = (
        "SELECT n.nname, sum(o.price) AS revenue FROM jp.o o JOIN jp.n n "
        "ON o.nk = n.nk GROUP BY n.nname"
    )
    eng.create_materialized_view("jp.mv", sql)
    update_where(n, {"nname": "concat(nname, '_y')"}, "nk >= 100 AND nk < 130", mode="merge-on-read")
    first = min(n.metadata.snapshots, key=lambda s: n.metadata.snapshots[s].sequence_number)
    dn = n.changes(n.metadata.snapshots[first].sequence_number)
    pred = eng._join_delta_key_predicate(dn, [("nk", "nk")])
    assert o.count_planned_files(pred) < o.count_planned_files()
    assert eng.refresh_materialized_view("jp.mv") == "incremental-join-aggregate"
    got = sorted((r.nname, r.revenue) for r in eng.scan_materialized_view("jp.mv").collect())
    want = sorted((r.nname, r.revenue) for r in eng.sql(sql).collect())
    assert got == want


@pytest.mark.slow
def test_join3_agg_star_mv_refreshes_incrementally(eng, spark):
    """r12: the FULL TPC-H q5 star — 3-table chain + GROUP BY a dim key.
    Affected groups probe through three telescoped arms; the recompute
    prunes through the star chain (affected segs → customers → orders →
    lineitems); commits stay group-keyed eq-delete + append."""
    sql = (
        "SELECT c.seg, sum(l.amt) AS rev, count(l.lk) AS cnt "
        "FROM q5.l l JOIN q5.o o ON l.ok = o.ok JOIN q5.c c ON o.ck = c.ck "
        "WHERE l.amt >= 0 GROUP BY c.seg"
    )
    p = classify_view_sql(spark, sql)
    assert p is not None and p.mode == "joinN_agg"
    assert p.group_keys == ("seg",) and p.key_sources == ((2, "seg"),)
    assert dict(p.equi_keys) == {(0, 1): (("ok", "ok"),), (1, 2): (("ck", "ck"),)}

    l = eng.create_table(
        "q5.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("amt")
        ).schema,
    )
    l.append(
        spark.range(3000).select(
            F.col("id").alias("lk"), (F.col("id") % 600).alias("ok"), (F.col("id") * 1.0).alias("amt")
        )
    )
    o = eng.create_table(
        "q5.o", spark.range(1).select(F.col("id").alias("ok"), F.col("id").alias("ck")).schema
    )
    o.append(spark.range(600).select(F.col("id").alias("ok"), (F.col("id") % 60).alias("ck")))
    c = eng.create_table(
        "q5.c",
        spark.range(1).select(
            F.col("id").alias("ck"), F.concat(F.lit("s"), F.col("id") % 5).alias("seg")
        ).schema,
    )
    c.append(
        spark.range(60).select(
            F.col("id").alias("ck"), F.concat(F.lit("s"), F.col("id") % 5).alias("seg")
        )
    )
    eng.create_materialized_view("q5.mv", sql)
    storage = eng.load_table("q5.mv__storage")
    key_id = storage.metadata.current_schema().field_by_name("seg").field_id

    def check(tag):
        got = sorted((r.seg, r.rev, r.cnt) for r in eng.scan_materialized_view("q5.mv").collect())
        want = sorted((r.seg, r.rev, r.cnt) for r in eng.sql(sql).collect())
        assert got == want, (tag, got, want)

    check("initial")
    before = {
        f.file_path for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    # deltas on all three slots across refreshes
    l.append(spark.createDataFrame([(9000, 3, 5.0)], "lk long, ok long, amt double"))
    assert eng.refresh_materialized_view("q5.mv") == "incremental-join3-aggregate"
    check("append")
    delete_where(l, "lk % 17 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("q5.mv") == "incremental-join3-aggregate"
    check("fact-delete")
    update_where(c, {"seg": "concat(seg, '_x')"}, "ck % 5 = 1", mode="merge-on-read")
    assert eng.refresh_materialized_view("q5.mv") == "incremental-join3-aggregate"
    check("seg-rename")
    delete_where(o, "ok = 9", mode="merge-on-read")
    assert eng.refresh_materialized_view("q5.mv") == "incremental-join3-aggregate"
    check("mid-delete")
    storage = eng.load_table("q5.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "star delta refresh rewrote pre-existing storage files"
    eqs = [e.data_file for e in plan_delete_files(storage.metadata, snap) if e.data_file.content == 2]
    assert eqs and all(set(d.equality_ids or ()) == {key_id} for d in eqs)
    assert eng.refresh_materialized_view("q5.mv") is False


@pytest.mark.slow
def test_join3_agg_mv_falls_back_to_full_on_hard_shapes(eng, spark):
    """The 3-table star guards mirror the 2-table ones: a NULL-keyed
    affected group and a file-set-replacing source rewrite both route to
    a full refresh — never a wrong incremental answer (review r12)."""
    sql = (
        "SELECT c.seg, sum(l.amt) AS rev FROM f5.l l "
        "JOIN f5.o o ON l.ok = o.ok JOIN f5.c c ON o.ck = c.ck GROUP BY c.seg"
    )
    l = eng.create_table(
        "f5.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("amt")
        ).schema,
    )
    l.append(
        spark.range(200).select(
            F.col("id").alias("lk"), (F.col("id") % 40).alias("ok"), (F.col("id") * 1.0).alias("amt")
        )
    )
    o = eng.create_table(
        "f5.o", spark.range(1).select(F.col("id").alias("ok"), F.col("id").alias("ck")).schema
    )
    o.append(spark.range(40).select(F.col("id").alias("ok"), (F.col("id") % 8).alias("ck")))
    c = eng.create_table(
        "f5.c",
        spark.range(1).select(
            F.col("id").alias("ck"), F.concat(F.lit("s"), F.col("id")).alias("seg")
        ).schema,
    )
    c.append(
        spark.range(8).select(F.col("id").alias("ck"), F.concat(F.lit("s"), F.col("id")).alias("seg"))
    )
    # one NULL-segment dim row whose group the delta will touch
    c.append(spark.createDataFrame([(80, None)], "ck long, seg string"))
    o.append(spark.createDataFrame([(900, 80)], "ok long, ck long"))
    l.append(spark.createDataFrame([(9000, 900, 1.0)], "lk long, ok long, amt double"))
    eng.create_materialized_view("f5.mv", sql)

    def check(tag):
        got = sorted(
            (r.seg or "", r.rev) for r in eng.scan_materialized_view("f5.mv").collect()
        )
        want = sorted((r.seg or "", r.rev) for r in eng.sql(sql).collect())
        assert got == want, tag

    check("initial")
    # delta touching the NULL-keyed group → full refresh, never wrong
    l.append(spark.createDataFrame([(9001, 900, 2.0)], "lk long, ok long, amt double"))
    assert eng.refresh_materialized_view("f5.mv") == "full"
    check("null-group-delta")
    # a clean delta afterwards goes incremental again
    l.append(spark.createDataFrame([(9002, 3, 2.0)], "lk long, ok long, amt double"))
    assert eng.refresh_materialized_view("f5.mv") == "incremental-join3-aggregate"
    check("clean-delta")
    # CoW delete (file-set replacement) breaks the anchor: full refresh
    delete_where(l, "lk = 10", mode="copy-on-write")
    assert eng.refresh_materialized_view("f5.mv") == "full"
    check("cow")


@pytest.mark.slow
def test_join_agg_mv_falls_back_to_full_on_hard_shapes(eng, spark):
    """NULL group keys and file-set-replacing source rewrites route to a
    full refresh — never a wrong answer."""
    o, n = _mk(eng, spark, n_orders=100)
    # a nation with a NULL name: its orders aggregate under a NULL group key
    n.append(spark.createDataFrame([(60, None)], "nk long, nname string"))
    o.append(spark.createDataFrame([(900, 60, 1.0)], "ok long, nk long, price double"))
    eng.create_materialized_view("jag.mv", _SQL)
    _check(eng, "initial-nulls")
    # a delta touching the NULL-keyed group: the refresh must go full
    # (the probe sees a NULL group key), never a wrong answer
    o.append(spark.createDataFrame([(901, 60, 2.0)], "ok long, nk long, price double"))
    assert eng.refresh_materialized_view("jag.mv") == "full"
    _check(eng, "null-delta")
    # CoW delete (file-set replacement) breaks the anchor: full refresh
    delete_where(o, "ok = 10", mode="copy-on-write")
    assert eng.refresh_materialized_view("jag.mv") == "full"
    _check(eng, "cow")


@pytest.mark.slow
def test_join_rollup_dtrunc_key_refreshes_incrementally(eng, spark):
    """r13: the time-rollup-over-a-join MV — GROUP BY date_trunc('day',
    fact.ts), dim.seg with AVG. The date_trunc key classifies (r12
    rejected expression keys outright) and the recompute prunes the fact
    by the raw-column envelope of the affected day buckets."""
    import datetime as dt

    f = eng.create_table(
        "jr.f",
        spark.range(1).select(
            F.col("id").alias("k"),
            F.col("id").alias("fk"),
            F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        ).schema,
        sort_by=["ts"],
        properties={"write.distribution-mode": "range"},
    )
    f.append(
        spark.range(2000).select(
            F.col("id").alias("k"),
            (F.col("id") % 40).alias("fk"),
            F.expr(
                "timestampadd(HOUR, CAST(id % 240 AS INT), TIMESTAMP '2024-01-01 00:30:00')"
            ).alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    d = eng.create_table(
        "jr.d",
        spark.range(1).select(
            F.col("id").alias("dk"), F.concat(F.lit("s"), F.col("id") % 4).alias("seg")
        ).schema,
    )
    d.append(
        spark.range(40).select(
            F.col("id").alias("dk"), F.concat(F.lit("s"), F.col("id") % 4).alias("seg")
        )
    )
    sql = (
        "SELECT date_trunc('day', f.ts) AS day, d.seg, avg(f.v) AS av, "
        "count(f.k) AS n FROM jr.f f JOIN jr.d d ON f.fk = d.dk "
        "GROUP BY date_trunc('day', f.ts), d.seg"
    )
    p = classify_view_sql(spark, sql)
    assert p is not None and p.mode == "joinN_agg"
    assert p.key_sources == ((0, "ts", "day"), (1, "seg"))
    eng.create_materialized_view("jr.mv", sql)

    def check(tag):
        got = sorted(
            (str(r.day), r.seg, round(r.av, 9), r.n)
            for r in eng.scan_materialized_view("jr.mv").collect()
        )
        want = sorted(
            (str(r.day), r.seg, round(r.av, 9), r.n) for r in eng.sql(sql).collect()
        )
        assert got == want, tag

    check("initial")
    # append inside one day bucket
    f.append(
        spark.createDataFrame(
            [(9000, 3, dt.datetime(2024, 1, 5, 10, 0), 50.0)],
            "k long, fk long, ts timestamp, v double",
        )
    )
    assert eng.refresh_materialized_view("jr.mv") == "incremental-join-aggregate"
    check("append")
    # MoR delete scattered across buckets
    delete_where(f, "k % 17 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("jr.mv") == "incremental-join-aggregate"
    check("fact-delete")
    # dim rename moves rows between segment groups
    update_where(d, {"seg": "concat(seg, '_x')"}, "dk % 8 = 1", mode="merge-on-read")
    assert eng.refresh_materialized_view("jr.mv") == "incremental-join-aggregate"
    check("dim-rename")


@pytest.mark.slow
def test_join_agg_having_threshold_crossings(eng, spark):
    """r13: HAVING on a join-agg MV — the probe finds affected groups
    WITHOUT the HAVING filter (a group that just fell out must still be
    eq-deleted) and the recompute applies it."""
    o, n = _mk(eng, spark, n_orders=120)
    sql = (
        "SELECT n.nname, sum(o.price) AS rev, count(o.ok) AS cnt "
        "FROM jag.o o JOIN jag.n n ON o.nk = n.nk "
        "GROUP BY n.nname HAVING count(o.ok) >= 10"
    )
    assert classify_view_sql(spark, sql).mode == "joinN_agg"
    eng.create_materialized_view("jag.hmv", sql)

    def check(tag):
        got = sorted((r.nname, r.rev, r.cnt) for r in eng.scan_materialized_view("jag.hmv").collect())
        want = sorted((r.nname, r.rev, r.cnt) for r in eng.sql(sql).collect())
        assert got == want, (tag, got, want)

    check("initial")
    # delete most of one nation's orders: it falls below 10 and disappears
    delete_where(o, "nk = 2 AND ok % 3 <> 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("jag.hmv") == "incremental-join-aggregate"
    check("drop-below")
    # append orders for it until it crosses back up
    o.append(
        spark.createDataFrame(
            [(5000 + i, 2, 1.0) for i in range(12)], "ok long, nk long, price double"
        )
    )
    assert eng.refresh_materialized_view("jag.hmv") == "incremental-join-aggregate"
    check("cross-above")
