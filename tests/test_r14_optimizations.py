"""Focused pins for the r14 optimization internals: the size-gated
materialization helper, the Arrow local-rows route, the probe-first
connected-components driver finish, and the metadata-derived changelog
touched-file list."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_rust_custom_spark.functions.local_rows import local_rows_df
from iceberg_rust_custom_spark.operators.dedup import connected_components
from iceberg_rust_custom_spark.operators.util import (
    MATERIALIZE_CAP_ENV,
    materialize_if_small,
)


def test_materialize_gate_small_input_checkpoints(spark):
    base = spark.range(100)
    shared = base.selectExpr("id", "id * 2 AS y")
    out = materialize_if_small(shared, base)
    # a checkpointed frame is a new object whose plan is an RDD scan
    assert out is not shared
    assert out.count() == 100


def test_materialize_gate_env_cap_zero_stays_lazy(spark):
    base = spark.range(100)
    shared = base.selectExpr("id", "id * 2 AS y")
    os.environ[MATERIALIZE_CAP_ENV] = "0"
    try:
        assert materialize_if_small(shared, base) is shared
    finally:
        del os.environ[MATERIALIZE_CAP_ENV]


def test_materialize_gate_explicit_override_wins(spark):
    base = spark.range(10)
    shared = base.selectExpr("id")
    assert materialize_if_small(shared, base, materialize=False) is shared
    forced = materialize_if_small(shared, base, materialize=True)
    assert forced is not shared and forced.count() == 10


def test_materialize_gate_large_estimate_stays_lazy(spark):
    base = spark.range(100)
    shared = base.selectExpr("id")
    os.environ[MATERIALIZE_CAP_ENV] = "1"  # 1 byte: everything is "large"
    try:
        assert materialize_if_small(shared, base) is shared
    finally:
        del os.environ[MATERIALIZE_CAP_ENV]


def test_local_rows_df_is_jvm_local_and_value_exact(spark):
    import datetime
    import decimal

    st = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("d", T.DecimalType(38, 10)),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("arr", T.ArrayType(T.DoubleType())),
            T.StructField("b", T.BinaryType()),
        ]
    )
    rows = [
        ("a", 1, decimal.Decimal("1.5"), datetime.datetime(2020, 1, 2, 3), [1.0, 2.0], b"\x00\x01"),
        (None, None, None, None, None, None),
    ]
    df = local_rows_df(spark, rows, st)
    # Arrow route → pure-JVM local relation, no Python-RDD stage
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = df.collect()
    assert got[0]["s"] == "a" and got[0]["d"] == decimal.Decimal("1.5000000000")
    assert got[0]["arr"] == [1.0, 2.0] and got[0]["b"] == b"\x00\x01"
    assert all(got[1][c] is None for c in st.names)
    # classic path equivalence
    ref = spark.createDataFrame(rows, st).collect()
    assert got == ref


def test_local_rows_df_empty_and_ddl_schema(spark):
    df = local_rows_df(spark, [], "a string, b long")
    assert df.count() == 0 and df.columns == ["a", "b"]
    # no rows: the typed empty relation keeps nullability, timestamps and
    # variants exactly, as a JVM-local plan
    st = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.VariantType()),
        ]
    )
    df = local_rows_df(spark, [], st)
    assert df.schema == st and df.collect() == []
    assert "LocalRelation <empty>" in df._jdf.queryExecution().analyzed().toString()


def test_local_rows_df_reads_mappings_by_name_and_rejects_short_rows(spark):
    st = "a string, b long"
    got = local_rows_df(spark, [{"b": 2, "a": "x"}, {"a": "y"}], st).collect()
    assert [(r.a, r.b) for r in got] == [("x", 2), ("y", None)]
    with pytest.raises(ValueError):
        local_rows_df(spark, [("x",)], st)
    with pytest.raises(ValueError):
        local_rows_df(spark, [("x", 1, 2)], st)


_NON_UTC_SCRIPT = r"""
import datetime as dt
import sys

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.functions.local_rows import local_rows_df
from iceberg_rust_custom_spark.session import get_spark
from iceberg_rust_custom_spark.table.maintenance import delete_where

spark = get_spark("local-rows-tz", shuffle_partitions=4)
st = T.StructType([T.StructField("ts", T.TimestampType()), T.StructField("n", T.LongType())])
rows = spark.createDataFrame(
    [(dt.datetime(2024, 2, 1, 0, 0), 1), (dt.datetime(2024, 3, 10, 10, 30), 2), (None, 3)], st
).collect()
got, ref = local_rows_df(spark, rows, st), spark.createDataFrame(rows, st)
assert got.collect() == ref.collect(), (got.collect(), ref.collect())
assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0

eng = Engine(spark, warehouse=sys.argv[1])
f = eng.create_table("tz.f", T.StructType.fromDDL("k long, fk long, ts timestamp, v double"))
f.append(
    spark.range(240).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("fk"),
        F.expr("timestampadd(HOUR, CAST(id * 7 AS INT), TIMESTAMP '2024-01-20 00:00:00')").alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )
)
d = eng.create_table("tz.d", T.StructType.fromDDL("dk long, seg string"))
d.append(spark.range(6).select(F.col("id").alias("dk"), F.concat(F.lit("s"), F.col("id") % 2).alias("seg")))
sql = (
    "SELECT date_trunc('month', f.ts) AS mon, d.seg, sum(f.v) AS s, count(f.k) AS n "
    "FROM tz.f f JOIN tz.d d ON f.fk = d.dk GROUP BY date_trunc('month', f.ts), d.seg"
)
eng.create_materialized_view("tz.mv", sql)


def check(tag):
    cols = ("mon", "seg", "s", "n")
    have = sorted(tuple(r[c] for c in cols) for r in eng.scan_materialized_view("tz.mv").collect())
    want = sorted(tuple(r[c] for c in cols) for r in eng.sql(sql).collect())
    assert have == want, (tag, have, want)


f.append(
    spark.createDataFrame(
        [(9000, 1, dt.datetime(2024, 2, 1, 0, 0), 50.0)], "k long, fk long, ts timestamp, v double"
    )
)
flavor = eng.refresh_materialized_view("tz.mv")
assert flavor == "incremental-join-aggregate", flavor
check("append")
delete_where(f, "k % 11 = 0", mode="merge-on-read")
flavor = eng.refresh_materialized_view("tz.mv")
assert flavor == "incremental-join-aggregate", flavor
check("delete")
print("NON_UTC_OK")
"""


def test_local_rows_df_and_join_agg_mv_exact_on_non_utc_machine(tmp_path):
    """A naive TimestampType value collected on a machine whose local
    timezone is not UTC must round-trip through ``local_rows_df`` unshifted
    — otherwise the affected-group frame of a ``date_trunc`` join-aggregate
    MV matches no stored group and the delta refresh commits stale rows."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        TZ="America/Los_Angeles",
        PYTHONPATH=repo,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _NON_UTC_SCRIPT, str(tmp_path / "wh")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0 and "NON_UTC_OK" in proc.stdout, proc.stderr[-4000:]


def test_connected_components_star_rounds_path_matches_driver_finish(spark):
    # two chains + a singleton edge; force the distributed star rounds with
    # driver_finish_edges=0 and check it matches the driver union-find
    pairs = local_rows_df(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    fast = {(r["node"], r["component"]) for r in connected_components(pairs).collect()}
    slow = {
        (r["node"], r["component"])
        for r in connected_components(pairs, driver_finish_edges=0).collect()
    }
    assert fast == slow
    assert fast == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)}


def test_touched_data_files_superset_and_fallbacks(tmp_path):
    import dataclasses

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rust_custom_spark.metadata.manifest import DataFile
    from iceberg_rust_custom_spark.table.table import _touched_data_files

    # parquet position-delete file read driver-side
    p = str(tmp_path / "posdel.parquet")
    pq.write_table(
        pa.table({"file_path": ["file:///d/a.parquet", "file:///d/a.parquet", "/d/b.parquet"], "pos": [0, 1, 2]}),
        p,
    )
    del_file = DataFile(file_path=p, file_size_in_bytes=os.path.getsize(p), content=1)
    dv = dataclasses.replace(
        DataFile(file_path="/d/dv.puffin", file_format="puffin", content=1),
        referenced_data_file="/d/c.parquet",
    )
    cand = [DataFile(file_path="/d/e.parquet")]
    touched = _touched_data_files([del_file], [dv], cand)
    # normalized (no file: URI duplicates), superset incl. eq candidates
    assert touched == ["/d/a.parquet", "/d/b.parquet", "/d/c.parquet", "/d/e.parquet"]
    # oversized → None (caller falls back to the Spark collect)
    assert _touched_data_files([del_file], [], [], max_driver_bytes=1) is None
    # DV without a referenced file → None
    bad_dv = DataFile(file_path="/d/dv2.puffin", file_format="puffin", content=1)
    assert _touched_data_files([], [bad_dv], []) is None
    # non-local path → None
    remote = DataFile(file_path="s3://bucket/d.parquet", file_size_in_bytes=10, content=1)
    assert _touched_data_files([remote], [], []) is None


def test_fuzzy_decontaminate_candidate_filtered_path_matches(spark, sf_dir):
    from iceberg_rust_custom_spark.operators.dedup import fuzzy_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.where("doc_id % 7 != 0")
    test = docs.where("doc_id % 7 = 0")
    plain = {r["doc_id"] for r in fuzzy_decontaminate(train, test, "doc_id", "text").select("doc_id").collect()}
    os.environ[MATERIALIZE_CAP_ENV] = "1"  # force the candidate-filtered scale path
    try:
        filtered = {
            r["doc_id"]
            for r in fuzzy_decontaminate(train, test, "doc_id", "text").select("doc_id").collect()
        }
    finally:
        del os.environ[MATERIALIZE_CAP_ENV]
    assert plain == filtered
