"""r13 (VERDICT r12 #1): n-relation inner-join MV delta maintenance.

The r12 join3 machinery hard-coded slots 0/1/2; r13 replaces the shape
regexes with an iterative JOIN-tail parser and loops the telescoping
identity over a relation LIST — the gate is the REAL TPC-H q5 (a
SIX-table star: customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈
region with a region filter and GROUP BY nation), the query the
reference's ``__delta__`` placeholders were registered for and never
implement (datafusion_iceberg/src/materialized_view.rs:147-159).

Slot lineage: an inner join emits one output row per matching
(r_0, …, r_{n-1}) source-row tuple, so the n-rid tuple keys the view
multiset; Δ⁻ commits as MoR equality deletes on the n long columns.
Arm i stages slot j at OLD for j < i and NEW for j > i, so cross terms
land exactly once.
"""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import (
    classify_view_sql,
    joinN_equi_keys,
    lineage_sql,
    src_row_id_cols,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


_Q5_SQL = (
    "SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
    "FROM tpch.customer c "
    "JOIN tpch.orders o ON c.c_custkey = o.o_custkey "
    "JOIN tpch.lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN tpch.supplier s ON l.l_suppkey = s.s_suppkey "
    "AND c.c_nationkey = s.s_nationkey "
    "JOIN tpch.nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN tpch.region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'R1' GROUP BY n.n_name"
)


def _mk_tpch(eng, spark, n_li=1500, n_ord=300, n_cust=60, n_supp=27, n_nat=9):
    """Mini TPC-H star where every lineitem's supplier shares its order's
    customer's nation (the real q5's c_nationkey = s_nationkey join has
    matches): supplier s has nation s % 9, customer c nation c % 9, and
    lineitem picks suppkey = (l % 3) * 9 + (its customer's nation)."""
    region = eng.create_table(
        "tpch.region",
        spark.range(1).select(
            F.col("id").alias("r_regionkey"),
            F.concat(F.lit("R"), F.col("id")).alias("r_name"),
        ).schema,
    )
    region.append(
        spark.range(3).select(
            F.col("id").alias("r_regionkey"),
            F.concat(F.lit("R"), F.col("id")).alias("r_name"),
        )
    )
    nation = eng.create_table(
        "tpch.nation",
        spark.range(1).select(
            F.col("id").alias("n_nationkey"),
            F.concat(F.lit("N"), F.col("id")).alias("n_name"),
            F.col("id").alias("n_regionkey"),
        ).schema,
    )
    nation.append(
        spark.range(n_nat).select(
            F.col("id").alias("n_nationkey"),
            F.concat(F.lit("N"), F.col("id")).alias("n_name"),
            (F.col("id") % 3).alias("n_regionkey"),
        )
    )
    supplier = eng.create_table(
        "tpch.supplier",
        spark.range(1).select(
            F.col("id").alias("s_suppkey"),
            F.col("id").alias("s_nationkey"),
            F.concat(F.lit("S"), F.col("id")).alias("s_name"),
        ).schema,
    )
    supplier.append(
        spark.range(n_supp).select(
            F.col("id").alias("s_suppkey"),
            (F.col("id") % n_nat).alias("s_nationkey"),
            F.concat(F.lit("S"), F.col("id")).alias("s_name"),
        )
    )
    customer = eng.create_table(
        "tpch.customer",
        spark.range(1).select(
            F.col("id").alias("c_custkey"),
            F.col("id").alias("c_nationkey"),
            F.concat(F.lit("C"), F.col("id")).alias("c_name"),
        ).schema,
    )
    customer.append(
        spark.range(n_cust).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % n_nat).alias("c_nationkey"),
            F.concat(F.lit("C"), F.col("id")).alias("c_name"),
        )
    )
    orders = eng.create_table(
        "tpch.orders",
        spark.range(1).select(
            F.col("id").alias("o_orderkey"),
            F.col("id").alias("o_custkey"),
            (F.col("id") * 2.0).alias("o_totalprice"),
        ).schema,
    )
    orders.append(
        spark.range(n_ord).select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") % n_cust).alias("o_custkey"),
            (F.col("id") * 2.0).alias("o_totalprice"),
        )
    )
    lineitem = eng.create_table(
        "tpch.lineitem",
        spark.range(1).select(
            F.col("id").alias("l_linekey"),
            F.col("id").alias("l_orderkey"),
            F.col("id").alias("l_suppkey"),
            (F.col("id") * 1.0).alias("l_extendedprice"),
            F.lit(0.1).alias("l_discount"),
        ).schema,
    )
    lineitem.append(
        spark.range(n_li).select(
            F.col("id").alias("l_linekey"),
            (F.col("id") % n_ord).alias("l_orderkey"),
            (
                (F.col("id") % 3) * n_nat + ((F.col("id") % n_ord) % n_cust) % n_nat
            ).alias("l_suppkey"),
            (F.col("id") * 1.0).alias("l_extendedprice"),
            F.lit(0.1).alias("l_discount"),
        )
    )
    return customer, orders, lineitem, supplier, nation, region


def test_real_q5_classifies_as_six_slot_star(spark):
    p = classify_view_sql(spark, _Q5_SQL)
    assert p is not None and p.mode == "joinN_agg"
    assert p.relations == (
        "tpch.customer",
        "tpch.orders",
        "tpch.lineitem",
        "tpch.supplier",
        "tpch.nation",
        "tpch.region",
    )
    assert p.group_keys == ("n_name",) and p.key_sources == ((4, "n_name"),)
    # the supplier ON carries pairs to BOTH lineitem and customer
    assert dict(p.equi_keys) == {
        (0, 1): (("c_custkey", "o_custkey"),),
        (0, 3): (("c_nationkey", "s_nationkey"),),
        (1, 2): (("o_orderkey", "l_orderkey"),),
        (2, 3): (("l_suppkey", "s_suppkey"),),
        (3, 4): (("s_nationkey", "n_nationkey"),),
        (4, 5): (("n_regionkey", "r_regionkey"),),
    }


@pytest.mark.slow
def test_real_q5_star_mv_refreshes_incrementally(eng, spark):
    """The full six-table TPC-H q5 refreshes incrementally under deltas
    on the fact, a dim rename, and a mid-chain delete — group-keyed
    eq-delete + append commits that never rewrite a pre-existing storage
    file."""
    customer, orders, lineitem, supplier, nation, region = _mk_tpch(eng, spark)
    eng.create_materialized_view("tpch.q5", _Q5_SQL)
    storage = eng.load_table("tpch.q5__storage")
    key_id = storage.metadata.current_schema().field_by_name("n_name").field_id

    def check(tag):
        got = sorted(
            (r.n_name, round(r.revenue, 6))
            for r in eng.scan_materialized_view("tpch.q5").collect()
        )
        want = sorted(
            (r.n_name, round(r.revenue, 6)) for r in eng.sql(_Q5_SQL).collect()
        )
        assert got == want, (tag, got, want)

    check("initial")
    before = {
        f.file_path
        for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    # fact append inside the filtered region (order 4 → customer 4 →
    # nation 4 → region 1 = 'R1'; supplier 4 shares nation 4)
    lineitem.append(
        spark.createDataFrame(
            [(90000, 4, 4, 100.0, 0.2)],
            "l_linekey long, l_orderkey long, l_suppkey long, "
            "l_extendedprice double, l_discount double",
        )
    )
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-join6-aggregate"
    check("fact-append")
    # fact MoR delete
    delete_where(lineitem, "l_linekey % 13 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-join6-aggregate"
    check("fact-delete")
    # dim rename: a nation in the filtered region changes its group key
    update_where(nation, {"n_name": "concat(n_name, '_x')"}, "n_nationkey = 1",
                 mode="merge-on-read")
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-join6-aggregate"
    check("dim-rename")
    # mid-chain delete: a supplier in region R1 disappears
    delete_where(supplier, "s_suppkey = 13", mode="merge-on-read")
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-join6-aggregate"
    check("supplier-delete")
    # an order with no lineitems affects no group: delta-noop, state-only
    orders.append(
        spark.createDataFrame(
            [(9000, 4, 7.5)], "o_orderkey long, o_custkey long, o_totalprice double"
        )
    )
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-noop"
    # …until a lineitem lands on it
    lineitem.append(
        spark.createDataFrame(
            [(90001, 9000, 4, 50.0, 0.0)],
            "l_linekey long, l_orderkey long, l_suppkey long, "
            "l_extendedprice double, l_discount double",
        )
    )
    assert eng.refresh_materialized_view("tpch.q5") == "incremental-join6-aggregate"
    check("orders-plus-lineitem-append")
    storage = eng.load_table("tpch.q5__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "q5 delta refresh rewrote pre-existing storage files"
    eqs = [
        e.data_file
        for e in plan_delete_files(storage.metadata, snap)
        if e.data_file.content == 2
    ]
    assert eqs and all(set(d.equality_ids or ()) == {key_id} for d in eqs)
    assert eng.refresh_materialized_view("tpch.q5") is False


@pytest.mark.slow
def test_join4_spj_chain_delta_refresh(eng, spark):
    """A 4-relation SPJ chain carries FOUR slot-lineage columns (the
    fourth uses the numbered r13 name) and commits deltas as eq-deletes
    on the full rid tuple."""
    sql = (
        "SELECT a.av, b.bv, c.cv, d.dv FROM c4.a a "
        "JOIN c4.b b ON a.fk = b.bk JOIN c4.c c ON b.fk = c.ck "
        "JOIN c4.d d ON c.fk = d.dk WHERE a.av >= 0"
    )
    p = classify_view_sql(spark, sql)
    assert p is not None and p.mode == "joinN" and len(p.relations) == 4
    lsql = lineage_sql(spark, sql)
    assert "__sg_src_row_id_3" in lsql
    assert joinN_equi_keys(spark, sql) == {
        (0, 1): [("fk", "bk")],
        (1, 2): [("fk", "ck")],
        (2, 3): [("fk", "dk")],
    }
    sizes = (400, 80, 16, 4)
    tabs = []
    for name, (kc, fc, vc), n_rows, n_next in zip(
        ("c4.a", "c4.b", "c4.c", "c4.d"),
        (("ak", "fk", "av"), ("bk", "fk", "bv"), ("ck", "fk", "cv"), ("dk", "fk", "dv")),
        sizes,
        (*sizes[1:], 1),
    ):
        t = eng.create_table(
            name,
            spark.range(1).select(
                F.col("id").alias(kc), F.col("id").alias(fc), (F.col("id") * 1.0).alias(vc)
            ).schema,
        )
        t.append(
            spark.range(n_rows).select(
                F.col("id").alias(kc),
                (F.col("id") % n_next).alias(fc),
                (F.col("id") * 1.0).alias(vc),
            )
        )
        tabs.append(t)
    a, b, c, d = tabs
    eng.create_materialized_view("c4.mv", sql)
    storage = eng.load_table("c4.mv__storage")
    names = [f.name for f in storage.metadata.current_schema().fields]
    assert names[-4:] == src_row_id_cols(4)

    def check(tag):
        got = sorted(
            (r.av, r.bv, r.cv, r.dv)
            for r in eng.scan_materialized_view("c4.mv").collect()
        )
        want = sorted((r.av, r.bv, r.cv, r.dv) for r in eng.sql(sql).collect())
        assert got == want, (tag,)

    check("initial")
    before = {
        f.file_path
        for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    # simultaneous deltas on three of the four slots
    a.append(spark.createDataFrame([(9000, 5, 5.0)], "ak long, fk long, av double"))
    delete_where(a, "ak % 11 = 0", mode="merge-on-read")
    update_where(c, {"cv": "cv + 0.25"}, "ck % 4 = 1", mode="merge-on-read")
    delete_where(b, "bk = 7", mode="merge-on-read")
    assert eng.refresh_materialized_view("c4.mv") == "incremental-join4"
    check("multi-slot-delta")
    update_where(d, {"dv": "dv + 1.0"}, "dk = 2", mode="merge-on-read")
    assert eng.refresh_materialized_view("c4.mv") == "incremental-join4"
    check("tail-dim-update")
    storage = eng.load_table("c4.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "join4 delta refresh rewrote pre-existing storage files"
    rid_ids = {
        storage.metadata.current_schema().field_by_name(rc).field_id
        for rc in src_row_id_cols(4)
    }
    eqs = [
        e.data_file
        for e in plan_delete_files(storage.metadata, snap)
        if e.data_file.content == 2
    ]
    assert eqs and all(set(dfile.equality_ids or ()) == rid_ids for dfile in eqs)


# ---- differential fuzz over 1-6 relation chains (VERDICT r12 #1) ----

_opN = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 5), st.integers(1, 3)),
    st.tuples(st.just("delete"), st.integers(0, 5), st.integers(0, 9)),
    st.tuples(st.just("update"), st.integers(0, 5), st.integers(0, 9)),
    st.tuples(st.just("refresh"), st.just(0), st.just(0)),
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(n_rel=st.integers(1, 6), ops=st.lists(_opN, min_size=3, max_size=7), agg=st.booleans())
# the aliased single-relation GROUP BY: the n = 1 affected-group recompute
@example(
    n_rel=1,
    ops=[("append", 0, 2), ("refresh", 0, 0), ("delete", 0, 3), ("update", 0, 1)],
    agg=True,
)
@pytest.mark.slow
def test_joinN_mv_random_op_sequences_match_recompute(
    spark, tmp_path_factory, n_rel, ops, agg
):
    """Chains of 1-6 relations, SPJ and GROUP BY flavors, under random
    append/MoR-delete/MoR-update sequences on random slots: after every
    refresh the MV content equals a from-scratch recompute. A single
    relation with GROUP BY refreshes only through the n = 1 affected-group
    recompute (an aliased single-relation SPJ view is a full refresh)."""
    tmp = tmp_path_factory.mktemp("jNfz")
    eng = Engine(spark, warehouse=str(tmp / "wh"))
    sizes = [24, 12, 8, 6, 4, 3][:n_rel]
    tabs = []
    for i in range(n_rel):
        t = eng.create_table(
            f"fz.t{i}",
            spark.range(1).select(
                F.col("id").alias(f"k{i}"),
                F.col("id").alias(f"f{i}"),
                F.col("id").alias(f"v{i}"),
            ).schema,
            properties={"write.eq-delete.target-rows": "3"},
        )
        nxt = sizes[i + 1] if i + 1 < n_rel else 1
        t.append(
            spark.range(sizes[i]).select(
                F.col("id").alias(f"k{i}"),
                (F.col("id") % nxt).alias(f"f{i}"),
                (F.col("id") * (i + 1)).alias(f"v{i}"),
            )
        )
        tabs.append(t)
    frm = "fz.t0 x0 " + " ".join(
        f"JOIN fz.t{i} x{i} ON x{i-1}.f{i-1} = x{i}.k{i}" for i in range(1, n_rel)
    )
    if agg:
        sql = (
            f"SELECT x{n_rel-1}.v{n_rel-1} AS g, sum(x0.v0) AS s, "
            f"count(x0.k0) AS c FROM {frm} GROUP BY x{n_rel-1}.v{n_rel-1}"
        )
        cols = ("g", "s", "c")
    else:
        sql = (
            f"SELECT x0.k0, x0.v0, x{n_rel-1}.v{n_rel-1} AS tail FROM {frm} "
            "WHERE x0.v0 <> -1"
        )
        cols = ("k0", "v0", "tail")
    eng.create_materialized_view("fz.mv", sql)
    nxt_key = [1000 * (i + 1) for i in range(n_rel)]

    def check():
        got = sorted(
            tuple(r[c] for c in cols)
            for r in eng.scan_materialized_view("fz.mv").collect()
        )
        want = sorted(tuple(r[c] for c in cols) for r in eng.sql(sql).collect())
        assert got == want, (n_rel, agg, ops)

    def refresh():
        ran = eng.refresh_materialized_view("fz.mv")
        if n_rel == 1 and agg:
            assert ran in (False, "incremental-noop", "incremental-agg-recompute"), ran
        check()

    for kind, slot, arg in ops:
        i = slot % n_rel
        t = tabs[i]
        if kind == "append":
            nxt = sizes[i + 1] if i + 1 < n_rel else 1
            t.append(
                spark.createDataFrame(
                    [(nxt_key[i] + j, (nxt_key[i] + j) % nxt, nxt_key[i] + j)
                     for j in range(arg)],
                    f"k{i} long, f{i} long, v{i} long",
                )
            )
            nxt_key[i] += arg
        elif kind == "delete":
            delete_where(t, f"k{i} % 10 = {arg}", mode="merge-on-read")
        elif kind == "update":
            update_where(t, {f"v{i}": f"v{i} + 1"}, f"k{i} % 10 = {arg}",
                         mode="merge-on-read")
        else:
            refresh()
    refresh()
    for i in range(n_rel):
        eng.drop(f"fz.t{i}")
    eng.drop("fz.mv")
