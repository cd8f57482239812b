"""r13 (VERDICT r12 #4): concurrent-refresh convergence.

MV delta commits deliberately run ``max_retries=0`` (engine.py — a CAS
conflict on the storage means a CONCURRENT refresh committed first, and
rebasing an append-shaped delta commit on top of it would apply the same
delta twice). This test proves the recovery story the design depends on:
two engines race a refresh of the same MV; the loser's CAS failure
SURFACES (never silently double-applies), and a re-issued refresh
re-derives from the fresh state so the final content equals the serial
result — for both the rid fast path and the multiset content fallback.

The "barrier" is deterministic: the loser's commit funnel
(``_commit_storage_files``, which every delta-commit flavor passes
through) first lets the second engine complete its whole refresh, then
proceeds with the now-stale commit. Both engines share one SparkSession
(temp-view registration is engine-global), so a wall-clock thread race
would be unsound test design — the interleave point is the same either
way: between the loser's plan-time metadata load and its CAS.
"""

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.catalog.base import CommitFailed
from iceberg_rust_custom_spark.engine import Engine
from iceberg_rust_custom_spark.metadata.table_metadata import CommitConflict
from iceberg_rust_custom_spark.table.maintenance import delete_where


def _race(monkeypatch, loser, winner, mv_name):
    """Patch the commit funnel so the first storage commit attempted by
    ``loser`` yields to a full winner refresh first."""
    orig = Engine._commit_storage_files
    state = {"fired": False, "winner_ran": None}

    def interleaved(self, storage, del_files, ins_files, new_state, props=None):
        if self is loser and not state["fired"]:
            state["fired"] = True
            state["winner_ran"] = winner.refresh_materialized_view(mv_name)
        return orig(self, storage, del_files, ins_files, new_state, props=props)

    monkeypatch.setattr(Engine, "_commit_storage_files", interleaved)
    return state


@pytest.mark.slow
def test_concurrent_refresh_rid_path_loser_raises_and_converges(
    spark, tmp_path, monkeypatch
):
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, warehouse=wh)
    e2 = Engine(spark, warehouse=wh)
    t = e1.create_table(
        "cc.t",
        spark.range(1).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    t.append(
        spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )
    sql = "SELECT k, v FROM cc.t WHERE k % 10 <> 3"
    e1.create_materialized_view("cc.mv", sql)
    # rid fast path is live (SPJ lineage storage)
    st = e1.load_table("cc.mv__storage")
    assert st.metadata.properties.get("write.mv.rid-keys-trusted") == "true"
    # stale the MV with a MoR delete (changelog delta refresh shape)
    delete_where(t, "k >= 100 AND k < 160", mode="merge-on-read")

    state = _race(monkeypatch, e1, e2, "cc.mv")
    with pytest.raises((CommitFailed, CommitConflict)):
        e1.refresh_materialized_view("cc.mv")
    assert state["fired"] and str(state["winner_ran"]).startswith("incremental")

    # recovery: the re-issued refresh re-derives from the fresh state —
    # here the winner already applied the delta, so the loser finds the
    # MV fresh and must NOT apply the same delta twice
    assert e1.refresh_materialized_view("cc.mv") is False
    got = sorted((r.k, r.v) for r in e1.scan_materialized_view("cc.mv").collect())
    want = sorted((r.k, r.v) for r in e1.sql(sql).collect())
    assert got == want  # converged to the serial result

    # and a FRESH delta afterwards refreshes incrementally again
    delete_where(t, "k >= 200 AND k < 230", mode="merge-on-read")
    ran = e1.refresh_materialized_view("cc.mv")
    assert str(ran).startswith("incremental"), ran
    got = sorted((r.k, r.v) for r in e1.scan_materialized_view("cc.mv").collect())
    want = sorted((r.k, r.v) for r in e1.sql(sql).collect())
    assert got == want


@pytest.mark.slow
def test_concurrent_refresh_multiset_fallback_loser_raises_and_converges(
    spark, tmp_path, monkeypatch
):
    """Same race on a rid-LESS storage (SELECT * view gets no lineage
    column), whose delta refreshes run the multiset content commit."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, warehouse=wh)
    e2 = Engine(spark, warehouse=wh)
    t = e1.create_table(
        "cm.t",
        spark.range(1).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    t.append(
        spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    )
    sql = "SELECT * FROM cm.t WHERE k % 10 <> 3"
    e1.create_materialized_view("cm.mv", sql)
    st = e1.load_table("cm.mv__storage")
    assert "__sg_src_row_id" not in {
        f.name for f in st.metadata.current_schema().fields
    }
    delete_where(t, "k >= 100 AND k < 160", mode="merge-on-read")

    state = _race(monkeypatch, e1, e2, "cm.mv")
    with pytest.raises((CommitFailed, CommitConflict)):
        e1.refresh_materialized_view("cm.mv")
    assert state["fired"] and str(state["winner_ran"]).startswith("incremental")

    assert e1.refresh_materialized_view("cm.mv") is False
    got = sorted((r.k, r.v) for r in e1.scan_materialized_view("cm.mv").collect())
    want = sorted((r.k, r.v) for r in e1.sql(sql).collect())
    assert got == want


def test_concurrent_state_only_commit_also_surfaces(spark, tmp_path, monkeypatch):
    """A noop (state-only) refresh racing a real one must also fail
    loudly rather than stamp a stale refresh-state over the winner's."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark, warehouse=wh)
    e2 = Engine(spark, warehouse=wh)
    t = e1.create_table(
        "cs.t",
        spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("g"), (F.col("id") * 1.0).alias("v")
        ).schema,
    )
    t.append(
        spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") % 20).alias("g"), (F.col("id") * 1.0).alias("v")
        )
    )
    # affected-group recompute (n = 1): a WHERE-filtered delta → zero affected groups
    # → the refresh lands in _commit_state_only
    sql = "SELECT g, avg(v) AS av FROM cs.t WHERE v >= 0 GROUP BY g"
    e1.create_materialized_view("cs.mv", sql)
    t.append(
        spark.createDataFrame([(9000, 3, -1.0)], "k long, g long, v double")
    )

    orig = Engine._commit_state_only
    state = {"fired": False}

    def interleaved(self, storage, new_state):
        if self is e1 and not state["fired"]:
            state["fired"] = True
            e2.refresh_materialized_view("cs.mv")
        return orig(self, storage, new_state)

    monkeypatch.setattr(Engine, "_commit_state_only", interleaved)
    ran = None
    try:
        ran = e1.refresh_materialized_view("cs.mv")
    except (CommitFailed, CommitConflict):
        pass  # surfacing the conflict is also acceptable
    # never a silent wrong answer: either the loser saw the conflict, or
    # its state-only commit landed on the already-identical fresh state
    assert state["fired"]
    if ran is not None:
        assert e1.refresh_materialized_view("cs.mv") is False
    got = sorted((r.g, r.av) for r in e1.scan_materialized_view("cs.mv").collect())
    want = sorted((r.g, r.av) for r in e1.sql(sql).collect())
    assert got == want
