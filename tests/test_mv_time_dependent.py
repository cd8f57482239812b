"""Time-dependent and non-deterministic views always refresh in full.

An incremental refresh evaluates the view SQL over the source delta only,
at refresh time. For ``current_timestamp()`` / ``now()`` / ``rand()``
views that is not what a full refresh gives: rows stored by an earlier
refresh were filtered or computed at an earlier time and are never
revisited. The shared source setup of every incremental mode
(``Engine._refresh_sources``) analyses the view SQL and sends such views
to a full refresh — the reference's behaviour for every view.
"""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.table.maintenance import delete_where
from iceberg_rust_custom_spark.views.incremental import classify_view_sql


def _utcnow():
    # tz-aware: Spark converts it exactly, whatever the machine's timezone
    return dt.datetime.now(dt.timezone.utc)


def test_current_timestamp_filter_view_matches_definition_after_time_passes(
    spark, tmp_path
):
    """A row 12 s in the future passes ``ts > current_timestamp()`` at
    the first refresh; once that time has passed it no longer does. An
    incremental append refresh would keep it next to the new row; the full
    refresh holds exactly what the definition returns."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    sql = "SELECT id, ts FROM d.t WHERE ts > current_timestamp()"
    assert classify_view_sql(sql).mode == "append"
    t = eng.create_table("d.t", spark.createDataFrame([], "id long, ts timestamp").schema)
    soon = _utcnow() + dt.timedelta(seconds=12)
    t.append(spark.createDataFrame([(1, soon)], "id long, ts timestamp"))
    eng.create_materialized_view("d.mv", sql)
    assert [r.id for r in eng.scan_materialized_view("d.mv").collect()] == [1]
    time.sleep(max(0.0, (soon - _utcnow()).total_seconds()) + 1)
    t.append(
        spark.createDataFrame(
            [(2, _utcnow() + dt.timedelta(hours=1))], "id long, ts timestamp"
        )
    )
    assert eng.refresh_materialized_view("d.mv") == "full"
    assert sorted(r.id for r in eng.scan_materialized_view("d.mv").collect()) == [2]
    assert sorted(r.id for r in eng.sql(sql).collect()) == [2]


def test_gate_flags_every_current_time_function(spark, tmp_path):
    """The gate itself, over each current-time function Spark SQL offers
    and two non-deterministic ones; a deterministic view and a string
    literal that merely reads like a function call pass."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    t = eng.create_table(
        "g.t", spark.createDataFrame([], "id long, ts timestamp, d date").schema
    )
    flagged = [
        "SELECT id FROM g.t WHERE ts > current_timestamp()",
        "SELECT id FROM g.t WHERE ts > now()",
        "SELECT id FROM g.t WHERE d >= current_date()",
        "SELECT id, localtimestamp() AS x FROM g.t",
        "SELECT id, current_timezone() AS z FROM g.t",
        "SELECT id, current_time() AS z FROM g.t",
        "SELECT id, rand() AS r FROM g.t",
        "SELECT id, uuid() AS u FROM g.t",
    ]
    for sql in flagged:
        assert not eng._deterministic_view(sql, ("g.t",), [t]), sql
    for sql in [
        "SELECT id, ts FROM g.t WHERE ts > TIMESTAMP '2024-01-01 00:00:00'",
        "SELECT id, 'now()' AS s FROM g.t",
    ]:
        assert eng._deterministic_view(sql, ("g.t",), [t]), sql


# (mode the SQL classifies as, view SQL) — each would refresh incrementally
# without the gate; the current-time predicate keeps every row (all ts are
# in the past), so only the gate sends them to a full refresh. Spark
# rejects rand() inside an aggregate, so the GROUP BY shapes filter by it
_NOW = "t.ts <= current_timestamp()"
_CASES = [
    ("append", "SELECT k, v FROM tq.t WHERE ts <= current_timestamp()"),
    ("append", "SELECT k, v, rand() AS r FROM tq.t"),
    ("aggregate", "SELECT g, sum(v) AS s FROM tq.t WHERE ts <= current_timestamp() GROUP BY g"),
    ("aggregate", "SELECT g, sum(v) AS s FROM tq.t WHERE rand() < 2 GROUP BY g"),
    ("joinN_agg", "SELECT g, avg(v) AS a FROM tq.t WHERE ts <= now() GROUP BY g"),
    ("joinN_agg", "SELECT g, avg(v) AS a FROM tq.t WHERE rand() < 2 GROUP BY g"),
    (
        "joinN_agg",
        "SELECT u.name, avg(t.v) AS a FROM tq.t t JOIN tq.u u ON t.g = u.g "
        f"WHERE {_NOW} GROUP BY u.name",
    ),
    (
        "joinN_agg",
        "SELECT u.name, avg(t.v) AS a FROM tq.t t JOIN tq.u u ON t.g = u.g "
        "WHERE rand() < 2 GROUP BY u.name",
    ),
    ("joinN", f"SELECT t.k, u.name FROM tq.t t JOIN tq.u u ON t.g = u.g WHERE {_NOW}"),
    ("joinN", "SELECT t.k, u.name, rand() AS r FROM tq.t t JOIN tq.u u ON t.g = u.g"),
    (
        "left_join",
        f"SELECT t.k, u.name FROM tq.t t LEFT JOIN tq.u u ON t.g = u.g WHERE {_NOW}",
    ),
    (
        "left_join",
        "SELECT t.k, u.name, rand() AS r FROM tq.t t LEFT JOIN tq.u u ON t.g = u.g",
    ),
]


@pytest.fixture(scope="module")
def tq(spark, tmp_path_factory):
    eng = Engine(spark, warehouse=str(tmp_path_factory.mktemp("tq") / "wh"))
    t = eng.create_table(
        "tq.t",
        spark.createDataFrame([], "k long, g long, v double, ts timestamp").schema,
    )
    t.append(
        spark.range(40).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
            (F.col("id") * 1.0).alias("v"),
            F.expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00')").alias("ts"),
        )
    )
    u = eng.create_table("tq.u", spark.createDataFrame([], "g long, name string").schema)
    u.append(spark.createDataFrame([(g, f"n{g}") for g in range(4)], "g long, name string"))
    return eng, t


@pytest.mark.slow
@pytest.mark.parametrize("i", range(len(_CASES)), ids=[f"{m}-{i}" for i, (m, _) in enumerate(_CASES)])
def test_time_dependent_views_refresh_full_in_every_mode(tq, spark, i):
    eng, t = tq
    mode, sql = _CASES[i]
    assert classify_view_sql(sql).mode == mode
    eng.create_materialized_view(f"tq.mv{i}", sql)
    t.append(
        spark.createDataFrame(
            [(1000 + i, i % 4, 1.0, dt.datetime(2024, 6, 1))],
            "k long, g long, v double, ts timestamp",
        )
    )
    assert eng.refresh_materialized_view(f"tq.mv{i}") == "full"
    eng.drop(f"tq.mv{i}")


def test_time_dependent_view_refreshes_full_under_changelog_history(spark, tmp_path):
    """MoR row-level commits route a view to the changelog paths; the gate
    runs before them too, while the same view without the current-time
    predicate keeps its changelog label."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    t = eng.create_table(
        "cl.t", spark.createDataFrame([], "k long, g long, v double, ts timestamp").schema
    )
    t.append(
        spark.range(30).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 1.0).alias("v"),
            F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
        )
    )
    timed = "SELECT g, sum(v) AS s FROM cl.t WHERE ts <= current_timestamp() GROUP BY g"
    plain = "SELECT g, sum(v) AS s FROM cl.t WHERE ts <= TIMESTAMP '2100-01-01' GROUP BY g"
    eng.create_materialized_view("cl.timed", timed)
    eng.create_materialized_view("cl.plain", plain)
    delete_where(t, "k % 5 = 0", mode="merge-on-read")
    assert eng.refresh_materialized_view("cl.plain") == "incremental-changelog-aggregate"
    assert eng.refresh_materialized_view("cl.timed") == "full"
    for name, sql in (("cl.timed", timed), ("cl.plain", plain)):
        got = sorted((r.g, r.s) for r in eng.scan_materialized_view(name).collect())
        assert got == sorted((r.g, r.s) for r in eng.sql(sql).collect()), name
