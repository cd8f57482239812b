"""r13 (VERDICT r12 #2): LEFT-outer-join SPJ MV delta maintenance.

``fact LEFT JOIN dim`` (preserve unmatched facts) is a very common
production MV the r12 classifier rejected outright. The hazard specific
to outer joins — a ΔB insert flips a previously-unmatched A-row from
null-extended to matched, and a ΔB delete flips it back — is handled by
affected-A-row recompute: every output row of a LEFT join is a function
of ONE A-row and all of B, so eq-deleting by rid_a alone (catching both
the matched and the null-extended rows of an affected A-row) and
re-deriving those A-rows' contribution against B_new is exact.
"""

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
from iceberg_rust_custom_spark.views.incremental import (
    SRC_ROW_ID_A,
    SRC_ROW_ID_B,
    classify_view_sql,
    lineage_sql,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_left_join_classifier_and_lineage_shapes(spark):
    sql = "SELECT a.k, a.v, b.w FROM t a LEFT JOIN u b ON a.fk = b.bk WHERE a.v >= 0"
    p = classify_view_sql(spark, sql)
    assert p is not None and p.mode == "left_join"
    assert p.relations == ("t", "u")
    assert p.equi_keys == (("fk", "bk"),)
    lsql = lineage_sql(spark, sql)
    assert f"a._row_id AS {SRC_ROW_ID_A}" in lsql
    assert f"b._row_id AS {SRC_ROW_ID_B}" in lsql
    assert "LEFT JOIN" in lsql and lsql.endswith("WHERE a.v >= 0")
    # LEFT OUTER spelling and theta extras both classify
    assert classify_view_sql(
        spark,
        "SELECT a.k, b.w FROM t a LEFT OUTER JOIN u b ON a.fk = b.bk AND a.v < b.w"
    ).mode == "left_join"
    # ruled out: OR'd ON, theta-only ON, RIGHT/FULL, GROUP BY, 3 rels, *
    for bad in [
        "SELECT a.k, b.w FROM t a LEFT JOIN u b ON a.fk = b.bk OR a.v = b.w",
        "SELECT a.k, b.w FROM t a LEFT JOIN u b ON a.v < b.w",
        "SELECT a.k, b.w FROM t a RIGHT JOIN u b ON a.fk = b.bk",
        "SELECT a.k, b.w FROM t a FULL JOIN u b ON a.fk = b.bk",
        "SELECT a.k, count(b.w) AS c FROM t a LEFT JOIN u b ON a.fk = b.bk GROUP BY a.k",
        "SELECT a.k, b.w, c.z FROM t a LEFT JOIN u b ON a.fk = b.bk JOIN s c ON b.x = c.z",
        "SELECT * FROM t a LEFT JOIN u b ON a.fk = b.bk",
    ]:
        got = classify_view_sql(spark, bad)
        assert got is None or got.mode != "left_join", bad


_SQL = "SELECT a.k, a.v, b.w FROM lj.a a LEFT JOIN lj.b b ON a.fk = b.bk WHERE a.v >= 0"


def _mk(eng, spark, n_a=800, n_b=40):
    """Facts with fk in [0, 80); dim covers only [0, 40) → half the facts
    start null-extended."""
    a = eng.create_table(
        "lj.a",
        spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("fk"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    a.append(
        spark.range(n_a).select(
            F.col("id").alias("k"), (F.col("id") % 80).alias("fk"), (F.col("id") * 1.0).alias("v")
        )
    )
    b = eng.create_table(
        "lj.b",
        spark.range(1).select(
            F.col("id").alias("bk"), (F.col("id") * 2.0).alias("w")
        ).schema,
    )
    b.append(spark.range(n_b).select(F.col("id").alias("bk"), (F.col("id") * 2.0).alias("w")))
    return a, b


def _check(eng, tag):
    got = sorted(
        (r.k, r.v, r.w) for r in eng.scan_materialized_view("lj.mv").collect()
    )
    want = sorted((r.k, r.v, r.w) for r in eng.sql(_SQL).collect())
    assert got == want, (tag, len(got), len(want))


@pytest.mark.slow
def test_left_join_mv_null_extension_repair(eng, spark):
    """The core outer-join hazard, both directions: a dim insert flips
    specific fact rows from null-extended to matched; a dim delete flips
    them back. Commits stay rid_a-keyed eq-delete + append and never
    rewrite a pre-existing storage file."""
    a, b = _mk(eng, spark)
    eng.create_materialized_view("lj.mv", _SQL)
    storage = eng.load_table("lj.mv__storage")
    # trust stamps "true": rid_b's legitimate NULLs are excluded from the
    # claim (only rid_a keys the maintenance deletes)
    assert storage.metadata.properties.get("write.mv.rid-keys-trusted") == "true"
    rid_a_id = storage.metadata.current_schema().field_by_name(SRC_ROW_ID_A).field_id
    _check(eng, "initial")
    # null-extended rows really exist initially
    assert eng.scan_materialized_view("lj.mv").where("w IS NULL").count() > 0
    before = {
        f.file_path
        for f in plan_files(storage.metadata, storage.metadata.snapshot_for_ref())
    }
    # dim insert: facts with fk in [40, 50) flip null-extended → matched
    b.append(
        spark.range(10).select((F.col("id") + 40).alias("bk"), (F.col("id") * 3.0).alias("w"))
    )
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "dim-insert-flips-to-matched")
    # the previously-null-extended rows in [40, 50) are matched now
    assert (
        eng.scan_materialized_view("lj.mv").where("k % 80 >= 40 AND k % 80 < 50 AND w IS NULL").count()
        == 0
    )
    # dim delete: facts with fk in [45, 50) flip back to null-extended
    delete_where(b, "bk >= 45 AND bk < 50", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "dim-delete-flips-to-null-extended")
    # fact append, both matched and unmatched
    a.append(
        spark.createDataFrame(
            [(9000, 3, 5.0), (9001, 77, 6.0)], "k long, fk long, v double"
        )
    )
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "fact-append")
    # fact MoR delete
    delete_where(a, "k % 13 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "fact-delete")
    # dim update (an update pair: matched rows get new content)
    update_where(b, {"w": "w + 0.5"}, "bk % 7 = 2", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "dim-update")
    # fact MoR update
    update_where(a, {"v": "v + 1.0"}, "k % 31 = 5", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "fact-update")
    storage = eng.load_table("lj.mv__storage")
    snap = storage.metadata.snapshot_for_ref()
    after = {f.file_path for f in plan_files(storage.metadata, snap)}
    assert before <= after, "left-join delta refresh rewrote pre-existing storage files"
    eqs = [
        e.data_file
        for e in plan_delete_files(storage.metadata, snap)
        if e.data_file.content == 2
    ]
    assert eqs and all(set(d.equality_ids or ()) == {rid_a_id} for d in eqs)
    assert eng.refresh_materialized_view("lj.mv") is False


@pytest.mark.slow
def test_left_join_anti_pattern_where_b_is_null(eng, spark):
    """``LEFT JOIN … WHERE b.x IS NULL`` — the anti-join idiom — stays
    exact through flips in both directions."""
    a, b = _mk(eng, spark, n_a=300, n_b=30)
    sql = (
        "SELECT a.k, a.v FROM lj.a a LEFT JOIN lj.b b ON a.fk = b.bk "
        "WHERE b.bk IS NULL"
    )
    eng.create_materialized_view("lj.anti", sql)

    def check(tag):
        got = sorted((r.k, r.v) for r in eng.scan_materialized_view("lj.anti").collect())
        want = sorted((r.k, r.v) for r in eng.sql(sql).collect())
        assert got == want, tag

    check("initial")
    # dim insert removes rows from the anti set
    b.append(spark.range(5).select((F.col("id") + 40).alias("bk"), F.lit(0.0).alias("w")))
    assert eng.refresh_materialized_view("lj.anti") == "incremental-left-join"
    check("dim-insert")
    # dim delete adds rows back
    delete_where(b, "bk >= 42", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.anti") == "incremental-left-join"
    check("dim-delete")
    a.append(spark.createDataFrame([(901, 41, 1.0), (902, 2, 1.0)], "k long, fk long, v double"))
    assert eng.refresh_materialized_view("lj.anti") == "incremental-left-join"
    check("fact-append")


@pytest.mark.slow
def test_left_join_preserves_null_key_fact_rows(eng, spark):
    """Review r13 (reproduced bug): a NULL-join-key fact row is PRESERVED
    by a LEFT join (null-extended) but the recompute scan's key predicate
    applies row-level and the runtime-filter prober ignores NULL keys —
    without the IS NULL disjunct, an appended NULL-key row never entered
    the MV, and an update setting fk=NULL made the row VANISH (its old
    output eq-deleted by rid_a, no replacement appended)."""
    a, b = _mk(eng, spark, n_a=300, n_b=20)
    eng.create_materialized_view("lj.mv", _SQL)
    _check(eng, "initial")
    # append a NULL-key fact row (plus a normal one in the same delta)
    a.append(
        spark.createDataFrame(
            [(9000, None, 5.0), (9001, 2, 6.0)], "k long, fk long, v double"
        )
    )
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "null-key-append")
    assert (
        eng.scan_materialized_view("lj.mv").where("k = 9000 AND w IS NULL").count() == 1
    )
    # update an existing matched row's key to NULL: it must flip to
    # null-extended, not vanish
    update_where(a, {"fk": "NULL"}, "k = 5", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "update-key-to-null")
    assert (
        eng.scan_materialized_view("lj.mv").where("k = 5 AND w IS NULL").count() == 1
    )
    # and back from NULL to a matched key
    update_where(a, {"fk": "3"}, "k = 9000", mode="merge-on-read")
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "update-key-from-null")
    assert (
        eng.scan_materialized_view("lj.mv").where("k = 9000 AND w IS NOT NULL").count()
        == 1
    )


@pytest.mark.slow
def test_left_join_falls_back_to_full_on_hard_shapes(eng, spark):
    """CoW file-set replacement on either source breaks rid anchoring →
    full refresh; content stays exact; a later clean delta resumes the
    incremental path."""
    a, b = _mk(eng, spark, n_a=200, n_b=20)
    eng.create_materialized_view("lj.mv", _SQL)
    _check(eng, "initial")
    delete_where(a, "k = 7", mode="copy-on-write")
    assert eng.refresh_materialized_view("lj.mv") == "full"
    _check(eng, "cow-a")
    a.append(spark.createDataFrame([(950, 1, 2.0)], "k long, fk long, v double"))
    assert eng.refresh_materialized_view("lj.mv") == "incremental-left-join"
    _check(eng, "resume-incremental")
    delete_where(b, "bk = 3", mode="copy-on-write")
    assert eng.refresh_materialized_view("lj.mv") == "full"
    _check(eng, "cow-b")


# ---- differential fuzz arm (VERDICT r12 #2) ----

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_oplj = st.one_of(
    st.tuples(st.just("append_a"), st.integers(1, 3)),
    st.tuples(st.just("append_b"), st.integers(0, 9)),
    st.tuples(st.just("delete_a"), st.integers(0, 9)),
    st.tuples(st.just("delete_b"), st.integers(0, 9)),
    st.tuples(st.just("update_a"), st.integers(0, 9)),
    st.tuples(st.just("update_b"), st.integers(0, 9)),
    # NULL-key churn (review r13: the original grammar never produced a
    # NULL join key, missing the preserved-row drop bug)
    st.tuples(st.just("nullify_a"), st.integers(0, 9)),
    st.tuples(st.just("rekey_a"), st.integers(0, 9)),
    st.tuples(st.just("refresh"), st.just(0)),
)

_FZ_SQL = (
    "SELECT a.k, a.v, b.w FROM fl.a a LEFT JOIN fl.b b ON a.fk = b.bk "
    "WHERE a.v <> -1"
)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(_oplj, min_size=4, max_size=8))
@pytest.mark.slow
def test_left_join_mv_random_op_sequences_match_recompute(
    spark, tmp_path_factory, ops
):
    """Random append/MoR-delete/MoR-update sequences on BOTH sides of a
    LEFT-join MV — every dim op can flip fact rows matched↔null-extended;
    after every refresh the MV content equals a from-scratch recompute."""
    tmp = tmp_path_factory.mktemp("ljfz")
    eng = Engine(spark, warehouse=str(tmp / "wh"))
    a = eng.create_table(
        "fl.a",
        spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("fk"), F.col("id").alias("v")
        ).schema,
        properties={"write.eq-delete.target-rows": "3"},
    )
    b = eng.create_table(
        "fl.b",
        spark.range(1).select(F.col("id").alias("bk"), F.col("id").alias("w")).schema,
    )
    a.append(
        spark.range(14).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("fk"), (F.col("id") * 10).alias("v")
        )
    )
    # dim covers only part of the fact key space: null-extension from t0
    b.append(spark.range(4).select(F.col("id").alias("bk"), (F.col("id") * 100).alias("w")))
    eng.create_materialized_view("fl.mv", _FZ_SQL)
    next_a, next_b = 1000, 4

    def check():
        got = sorted(
            (r.k, r.v, r.w) for r in eng.scan_materialized_view("fl.mv").collect()
        )
        want = sorted((r.k, r.v, r.w) for r in eng.sql(_FZ_SQL).collect())
        assert got == want, (ops,)

    for kind, arg in ops:
        if kind == "append_a":
            a.append(
                spark.createDataFrame(
                    [(next_a + i, (next_a + i) % 7, (next_a + i) * 10) for i in range(arg)],
                    "k long, fk long, v long",
                )
            )
            next_a += arg
        elif kind == "append_b":
            # may re-insert a previously-deleted key or add a fresh one:
            # both flip null-extended fact rows to matched
            b.append(
                spark.createDataFrame(
                    [(arg % 7, next_b * 100)], "bk long, w long"
                )
            )
            next_b += 1
        elif kind == "delete_a":
            delete_where(a, f"k % 10 = {arg}", mode="merge-on-read")
        elif kind == "delete_b":
            delete_where(b, f"bk % 10 = {arg}", mode="merge-on-read")
        elif kind == "update_a":
            update_where(a, {"v": "v + 1"}, f"k % 10 = {arg}", mode="merge-on-read")
        elif kind == "update_b":
            update_where(b, {"w": "w + 1"}, f"bk % 10 = {arg}", mode="merge-on-read")
        elif kind == "nullify_a":
            update_where(a, {"fk": "NULL"}, f"k % 10 = {arg}", mode="merge-on-read")
        elif kind == "rekey_a":
            update_where(
                a, {"fk": f"{arg % 7}"}, f"k % 10 = {arg} AND fk IS NULL",
                mode="merge-on-read",
            )
        else:
            eng.refresh_materialized_view("fl.mv")
            check()
    eng.refresh_materialized_view("fl.mv")
    check()
    for obj in ("fl.mv", "fl.a", "fl.b"):
        eng.drop(obj)
