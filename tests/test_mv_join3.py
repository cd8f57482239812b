"""r12 (VERDICT r11 #3): three-table inner-join MV delta maintenance.

Triple row lineage generalizes the r11 pair: an inner join emits one
output row per matching (a, b, c) source-row triple, so
(rid_a, rid_b, rid_c) keys the view multiset and Δ⁻ commits as MoR
equality deletes on the three long columns. The telescoping identity

    V_new − V_old = ΔA ⋈ B_new ⋈ C_new ∪ A_old ⋈ ΔB ⋈ C_new
                  ∪ A_old ⋈ B_old ⋈ ΔC

stages already-applied slots NEW and not-yet-applied slots OLD so cross
terms land exactly once; arm full-sides prune by the delta's equi keys,
with one propagation wave through the equi graph for slots lacking a
direct pair (customer delta → prune orders directly → prune lineitem by
the restricted orders' keys)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import (
    SRC_ROW_ID_A,
    SRC_ROW_ID_B,
    SRC_ROW_ID_C,
    classify_view_sql,
    joinN_equi_keys,
    lineage_sql,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_join3_classifier_and_lineage_shapes(spark):
    sql = (
        "SELECT l.lv, o.ov, c.cv FROM t.l l JOIN t.o o ON l.ok = o.ok "
        "JOIN t.c c ON o.ck = c.ck WHERE l.lv > 0"
    )
    p = classify_view_sql(spark, sql)
    assert p.mode == "joinN" and p.relations == ("t.l", "t.o", "t.c")
    lsql = lineage_sql(spark, sql)
    assert lsql is not None
    for rid, q in ((SRC_ROW_ID_A, "l"), (SRC_ROW_ID_B, "o"), (SRC_ROW_ID_C, "c")):
        assert f"{q}._row_id AS {rid}" in lsql
    assert lsql.endswith("WHERE l.lv > 0")
    assert joinN_equi_keys(spark, sql) == {(0, 1): [("ok", "ok")], (1, 2): [("ck", "ck")]}
    # second ON condition may carry pairs to EITHER earlier relation
    assert joinN_equi_keys(
        spark,
        "SELECT a.x, b.y, c.z FROM ta a JOIN tb b ON a.k = b.k "
        "JOIN tc c ON a.j = c.j AND b.m = c.m"
    ) == {(0, 1): [("k", "k")], (0, 2): [("j", "j")], (1, 2): [("m", "m")]}
    # 4 relations classify since the r13 generalization (stale r12 pin)
    four = "SELECT a.x FROM ta a JOIN tb b ON a.k=b.k JOIN tc c ON b.j=c.j JOIN td d ON c.z=d.z"
    assert classify_view_sql(spark, four).mode == "joinN"
    assert classify_view_sql(spark, four).relations == ("ta", "tb", "tc", "td")
    # ruled out: self-join, outer join, >MAX_JOIN_RELATIONS, aggregates, GROUP BY
    nine = "SELECT a1.x FROM t1 a1 " + " ".join(
        f"JOIN t{i} a{i} ON a{i-1}.k = a{i}.k" for i in range(2, 10)
    )
    for bad in [
        "SELECT a.x FROM ta a JOIN tb b ON a.k=b.k JOIN ta c ON b.j=c.j",
        "SELECT a.x FROM ta a LEFT JOIN tb b ON a.k=b.k JOIN tc c ON b.j=c.j",
        nine,
        "SELECT sum(a.x) AS s FROM ta a JOIN tb b ON a.k=b.k JOIN tc c ON b.j=c.j",
        "SELECT a.x FROM ta a JOIN tb b ON a.k=b.k JOIN tc c ON b.j=c.j GROUP BY a.x",
    ]:
        got = classify_view_sql(spark, bad)
        assert got is None or got.mode != "joinN", bad
    # SELECT * / missing qualifier: classifies joinN but lineage opts out
    assert lineage_sql(
        spark,
        "SELECT * FROM ta a JOIN tb b ON a.k=b.k JOIN tc c ON b.j=c.j"
    ) is None
    assert lineage_sql(
        spark,
        "SELECT x FROM ns.ta JOIN tb ON ta.k=tb.k JOIN tc ON tb.j=tc.j"
    ) is None


_SQL = (
    "SELECT l.lk, l.qty, o.op, c.cn FROM j3.l l JOIN j3.o o ON l.ok = o.ok "
    "JOIN j3.c c ON o.ck = c.ck WHERE l.qty >= 0"
)


def _mk(eng, spark, n_l=2000, n_o=500, n_c=50):
    l = eng.create_table(
        "j3.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("qty")
        ).schema,
    )
    l.append(
        spark.range(n_l).select(
            F.col("id").alias("lk"), (F.col("id") % n_o).alias("ok"), (F.col("id") * 1.0).alias("qty")
        )
    )
    o = eng.create_table(
        "j3.o",
        spark.range(1).select(
            F.col("id").alias("ok"), F.col("id").alias("ck"), (F.col("id") * 2.0).alias("op")
        ).schema,
    )
    o.append(
        spark.range(n_o).select(
            F.col("id").alias("ok"), (F.col("id") % n_c).alias("ck"), (F.col("id") * 2.0).alias("op")
        )
    )
    c = eng.create_table(
        "j3.c",
        spark.range(1).select(
            F.col("id").alias("ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        ).schema,
    )
    c.append(
        spark.range(n_c).select(
            F.col("id").alias("ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        )
    )
    return l, o, c


def _check(eng, tag=""):
    got = sorted(
        (r.lk, r.qty, r.op, r.cn) for r in eng.scan_materialized_view("j3.mv").collect()
    )
    want = sorted((r.lk, r.qty, r.op, r.cn) for r in eng.sql(_SQL).collect())
    assert got == want, (tag, len(got), len(want))


@pytest.mark.slow
def test_join3_mv_storage_and_delta_commit_shape(eng, spark):
    """Storage carries the triple rid columns (non-null, unique as a
    triple); a changelog refresh commits Δ⁻ as equality deletes on all
    three rid fields with prunable bounds, zero position tombstones, and
    never rewrites a pre-existing storage file."""
    l, o, c = _mk(eng, spark)
    eng.create_materialized_view("j3.mv", _SQL)
    storage = eng.load_table("j3.mv__storage")
    names = [f.name for f in storage.metadata.current_schema().fields]
    assert {SRC_ROW_ID_A, SRC_ROW_ID_B, SRC_ROW_ID_C} <= set(names)
    df = storage.scan()
    rid_cols = [SRC_ROW_ID_A, SRC_ROW_ID_B, SRC_ROW_ID_C]
    assert df.where(" OR ".join(f"{r} IS NULL" for r in rid_cols)).count() == 0
    assert df.select(*rid_cols).distinct().count() == df.count()
    assert SRC_ROW_ID_C not in eng.scan_materialized_view("j3.mv").columns
    _check(eng, "initial")

    schema = storage.metadata.current_schema()
    rid_ids = {schema.field_by_name(r).field_id for r in rid_cols}
    before = {
        f.file_path for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    delete_where(l, "lk % 17 = 0", mode="merge-on-read")
    update_where(c, {"cn": "concat(cn, '_x')"}, "ck % 13 = 0", mode="merge-on-read")
    o.append(spark.createDataFrame([(900, 7, 9.0)], "ok long, ck long, op double"))
    assert eng.refresh_materialized_view("j3.mv") == "incremental-join3"
    storage = eng.load_table("j3.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "pre-existing storage files were rewritten"
    dels = plan_delete_files(storage.metadata, snap)
    eqs = [e.data_file for e in dels if e.data_file.content == 2]
    assert eqs, "expected triple-rid equality-delete tombstones"
    assert all(set(d.equality_ids or ()) == rid_ids for d in eqs)
    assert all(SRC_ROW_ID_A in (d.lower_bounds or {}) for d in eqs)
    assert not [e for e in dels if e.data_file.content == 1], "content join ran"
    _check(eng, "delta")


@pytest.mark.slow
def test_join3_mv_simultaneous_deltas_and_updates(eng, spark):
    """Deltas on all three slots in ONE refresh window, including an
    update pair (same rids, new content) and a dim-row delete that kills
    a whole fan-out."""
    l, o, c = _mk(eng, spark)
    eng.create_materialized_view("j3.mv", _SQL)
    l.append(spark.createDataFrame([(9001, 4, 6.0)], "lk long, ok long, qty double"))
    delete_where(o, "ok = 9", mode="merge-on-read")
    update_where(c, {"cn": "'zz'"}, "ck = 2", mode="merge-on-read")
    assert eng.refresh_materialized_view("j3.mv") == "incremental-join3"
    _check(eng, "all-three")
    assert eng.refresh_materialized_view("j3.mv") is False


@pytest.mark.slow
def test_join3_chain_pruning_machinery(eng, spark):
    """The arm-pruning chain on a clustered chain join: a small customer
    delta prunes orders directly, and the restricted orders probe prunes
    lineitem transitively — both proven on the tables with the same
    predicates the refresh builds."""
    from iceberg_rust_custom_spark.table.runtime_filter import join_key_predicate

    n_l, n_o, n_c = 20000, 2000, 200
    l = eng.create_table(
        "ch.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("qty")
        ).schema,
        sort_by=["ok"],
        properties={"write.distribution-mode": "range", "write.range-partitions": "6"},
    )
    l.append(
        spark.range(n_l).select(
            F.col("id").alias("lk"), (F.col("id") % n_o).alias("ok"), (F.col("id") * 1.0).alias("qty")
        )
    )
    o = eng.create_table(
        "ch.o",
        spark.range(1).select(
            F.col("id").alias("ok"), F.col("id").alias("ck"), (F.col("id") * 2.0).alias("op")
        ).schema,
        sort_by=["ck"],
        properties={"write.distribution-mode": "range", "write.range-partitions": "6"},
    )
    # contiguous ck blocks so a narrow customer delta maps to few order files
    o.append(
        spark.range(n_o).select(
            F.col("id").alias("ok"), (F.col("id") * n_c / n_o).cast("long").alias("ck"),
            (F.col("id") * 2.0).alias("op"),
        )
    )
    c = eng.create_table(
        "ch.c",
        spark.range(1).select(
            F.col("id").alias("ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        ).schema,
    )
    c.append(
        spark.range(n_c).select(
            F.col("id").alias("ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        )
    )
    sql = (
        "SELECT l.lk, l.qty, o.op, c.cn FROM ch.l l JOIN ch.o o ON l.ok = o.ok "
        "JOIN ch.c c ON o.ck = c.ck"
    )
    eng.create_materialized_view("ch.mv", sql)
    update_where(c, {"cn": "concat(cn, '_y')"}, "ck >= 10 AND ck < 13", mode="merge-on-read")
    first = min(c.metadata.snapshots, key=lambda s: c.metadata.snapshots[s].sequence_number)
    dc = c.changes(c.metadata.snapshots[first].sequence_number)
    # direct: Δc prunes orders on ck
    o_pred = eng._join_delta_key_predicate(dc, [("ck", "ck")])
    assert o.count_planned_files(o_pred) < o.count_planned_files()
    # propagated: restricted orders prune lineitem on ok
    l_pred = join_key_predicate(o.scan(predicate=o_pred), [("ok", "ok")])
    assert l.count_planned_files(l_pred) < l.count_planned_files()
    assert eng.refresh_materialized_view("ch.mv") == "incremental-join3"
    got = sorted((r.lk, r.cn) for r in eng.scan_materialized_view("ch.mv").collect())
    want = sorted((r.lk, r.cn) for r in eng.sql(sql).collect())
    assert got == want


@pytest.mark.slow
def test_join3_mv_without_lineage_uses_multiset_fallback(eng, spark):
    """A SELECT * 3-table view gets no rid columns (lineage would expand
    the instrumented sources) — refreshes still run the join3 path via
    the multiset content commit, never a wrong answer. Column-disjoint
    tables so SELECT * resolves unambiguously."""
    l = eng.create_table(
        "sm.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("l_ok"), (F.col("id") * 1.0).alias("qty")
        ).schema,
    )
    l.append(
        spark.range(300).select(
            F.col("id").alias("lk"), (F.col("id") % 60).alias("l_ok"), (F.col("id") * 1.0).alias("qty")
        )
    )
    o = eng.create_table(
        "sm.o",
        spark.range(1).select(
            F.col("id").alias("o_ok"), F.col("id").alias("o_ck"), (F.col("id") * 2.0).alias("op")
        ).schema,
    )
    o.append(
        spark.range(60).select(
            F.col("id").alias("o_ok"), (F.col("id") % 12).alias("o_ck"), (F.col("id") * 2.0).alias("op")
        )
    )
    c = eng.create_table(
        "sm.c",
        spark.range(1).select(
            F.col("id").alias("c_ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        ).schema,
    )
    c.append(
        spark.range(12).select(
            F.col("id").alias("c_ck"), F.concat(F.lit("c"), F.col("id")).alias("cn")
        )
    )
    sql = (
        "SELECT * FROM sm.l l JOIN sm.o o ON l.l_ok = o.o_ok "
        "JOIN sm.c c ON o.o_ck = c.c_ck"
    )
    eng.create_materialized_view("sm.smv", sql)
    storage = eng.load_table("sm.smv__storage")
    names = {f.name for f in storage.metadata.current_schema().fields}
    assert SRC_ROW_ID_C not in names
    delete_where(l, "lk % 7 = 0", mode="merge-on-read")
    update_where(c, {"cn": "'u'"}, "c_ck = 1", mode="merge-on-read")
    assert eng.refresh_materialized_view("sm.smv") == "incremental-join3"
    got = sorted((r.lk, r.cn) for r in eng.scan_materialized_view("sm.smv").collect())
    want = sorted((r.lk, r.cn) for r in eng.sql(sql).collect())
    assert got == want


_op3 = st.one_of(
    st.tuples(st.just("append_l"), st.integers(1, 3)),
    st.tuples(st.just("append_o"), st.integers(1, 2)),
    st.tuples(st.just("append_c"), st.integers(1, 2)),
    st.tuples(st.just("delete_l"), st.integers(0, 9)),
    st.tuples(st.just("delete_o"), st.integers(0, 9)),
    st.tuples(st.just("update_c"), st.integers(0, 9)),
    st.tuples(st.just("update_l"), st.integers(0, 9)),
    st.tuples(st.just("refresh")),
)

_FZ_SQL = (
    "SELECT l.lk, l.qty, o.op, c.cn FROM f3.l l JOIN f3.o o ON l.ok = o.ok "
    "JOIN f3.c c ON o.ck = c.ck WHERE l.qty <> -1"
)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(_op3, min_size=4, max_size=8))
@pytest.mark.slow
def test_join3_mv_random_op_sequences_match_recompute(spark, tmp_path_factory, ops):
    tmp = tmp_path_factory.mktemp("j3fz")
    eng = Engine(spark, warehouse=str(tmp / "wh"))
    l = eng.create_table(
        "f3.l",
        spark.range(1).select(
            F.col("id").alias("lk"), F.col("id").alias("ok"), F.col("id").alias("qty")
        ).schema,
        properties={"write.eq-delete.target-rows": "3", "write.delete.target-rows": "5"},
    )
    o = eng.create_table(
        "f3.o",
        spark.range(1).select(
            F.col("id").alias("ok"), F.col("id").alias("ck"), F.col("id").alias("op")
        ).schema,
    )
    c = eng.create_table(
        "f3.c",
        spark.range(1).select(F.col("id").alias("ck"), F.col("id").alias("cn")).schema,
    )
    l.append(
        spark.range(12).select(
            F.col("id").alias("lk"), (F.col("id") % 6).alias("ok"), (F.col("id") * 10).alias("qty")
        )
    )
    o.append(
        spark.range(6).select(
            F.col("id").alias("ok"), (F.col("id") % 3).alias("ck"), (F.col("id") * 100).alias("op")
        )
    )
    c.append(spark.range(3).select(F.col("id").alias("ck"), (F.col("id") * 7).alias("cn")))
    eng.create_materialized_view("f3.mv", _FZ_SQL)
    next_l, next_o, next_c = 1000, 6, 3

    def check():
        got = sorted(
            (r.lk, r.qty, r.op, r.cn)
            for r in eng.scan_materialized_view("f3.mv").collect()
        )
        want = sorted((r.lk, r.qty, r.op, r.cn) for r in eng.sql(_FZ_SQL).collect())
        assert got == want, (ops,)

    for op in ops:
        kind = op[0]
        if kind == "append_l":
            n = op[1]
            l.append(
                spark.createDataFrame(
                    [(next_l + i, (next_l + i) % 6, (next_l + i) * 10) for i in range(n)],
                    "lk long, ok long, qty long",
                )
            )
            next_l += n
        elif kind == "append_o":
            n = op[1]
            o.append(
                spark.createDataFrame(
                    [(next_o + i, (next_o + i) % 3, (next_o + i) * 100) for i in range(n)],
                    "ok long, ck long, op long",
                )
            )
            next_o += n
        elif kind == "append_c":
            n = op[1]
            c.append(
                spark.createDataFrame(
                    [(next_c + i, (next_c + i) * 7) for i in range(n)], "ck long, cn long"
                )
            )
            next_c += n
        elif kind == "delete_l":
            delete_where(l, f"lk % 10 = {op[1]}", mode="merge-on-read")
        elif kind == "delete_o":
            delete_where(o, f"ok % 10 = {op[1]}", mode="merge-on-read")
        elif kind == "update_c":
            update_where(c, {"cn": "cn + 1"}, f"ck % 10 = {op[1]}", mode="merge-on-read")
        elif kind == "update_l":
            # some updates move rows IN/OUT of the view's WHERE clause
            val = "-1" if op[1] % 3 == 0 else "qty + 1"
            update_where(l, {"qty": val}, f"lk % 10 = {op[1]}", mode="merge-on-read")
        elif kind == "refresh":
            eng.refresh_materialized_view("f3.mv")
            check()
    eng.refresh_materialized_view("f3.mv")
    check()
    for obj in ("f3.mv", "f3.l", "f3.o", "f3.c"):
        try:
            eng.drop(obj)
        except Exception:
            pass
