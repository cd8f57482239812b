"""MV delta-refresh scale ladder (VERDICT r9 next-round #3).

The r9 delta-sized MV storage commits (engine._commit_storage_delta) claim
refresh cost proportional to the DELTA, not the storage. This ladder
measures that claim directly: a FIXED-size source change (100-row MoR
delete + 100-row append) against an MV whose storage grows 10× per rung,
recording per rung:

* ``refresh_wall_s`` — median wall time of a delta refresh,
* ``bytes_written`` — bytes of storage files ADDED by one refresh commit
  (data + delete files; must track the delta, not the storage),
* ``files_written`` — added file count,
* ``scan_clean_s`` / ``scan_tombstoned_s`` — storage scan wall with zero
  MoR tombstones vs just under the consolidation threshold
  (``write.mv.delete-file-threshold``) — the read-amplification the MoR
  storage pays between consolidations, which must be a bounded constant,
  not storage-proportional.

Pass criteria: refresh wall and bytes written stay ~flat as storage grows
10×/100× (delta-proportional, storage-independent); tombstoned-scan
overhead stays bounded by the consolidation threshold.

Usage: python tools/mv_ladder.py [rungs ...]   (default: 10000 100000 1000000)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _storage_file_sizes(storage) -> dict[str, int]:
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    md = storage.metadata
    snap = md.snapshot_for_ref()
    out: dict[str, int] = {}
    for f in plan_files(md, snap):
        out[f.file_path] = f.file_size_in_bytes
    for e in plan_delete_files(md, snap):
        out[e.data_file.file_path] = e.data_file.file_size_in_bytes
    return out


def run_rung(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    wh = tempfile.mkdtemp(prefix="mvlad-")
    eng = Engine(spark, warehouse=wh)
    try:
        src = eng.create_table(
            "lad.src",
            spark.range(1).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            ).schema,
        )
        src.append(
            spark.range(n_rows).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            )
        )
        eng.create_materialized_view("lad.mv", "SELECT k, v FROM lad.src WHERE k % 10 <> 3")
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            # fixed-size delta regardless of storage size: 100 deletes + 100 inserts
            lo = i * 100
            delete_where(src, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            src.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("k"), (F.col("id") * 1.0).alias("v")
                )
            )
            next_k += 100
            storage = eng.load_table("lad.mv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.mv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.mv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor.startswith("incremental"), flavor
            # delta commits must never rewrite a pre-existing storage file
            assert all(p in after for p in before), "pre-existing storage file dropped"
        # read-amplification: clean scan vs tombstone-carrying scan
        storage = eng.load_table("lad.mv__storage")
        from iceberg_rust_custom_spark.table.scan import plan_delete_files

        n_tomb = len(
            plan_delete_files(storage.metadata, storage.metadata.snapshot_for_ref())
        )
        t0 = time.perf_counter()
        n_dirty = storage.scan().count()
        scan_tomb = time.perf_counter() - t0
        from iceberg_rust_custom_spark.table.maintenance import compact

        compact(storage)
        storage = eng.load_table("lad.mv__storage")
        t0 = time.perf_counter()
        n_clean = storage.scan().count()
        scan_clean = time.perf_counter() - t0
        assert n_dirty == n_clean
        # correctness anchor: MV content == view query
        want = (
            f"incremental refreshes kept exact content"
            if n_dirty
            == eng.sql("SELECT count(*) c FROM lad.src WHERE k % 10 <> 3").first().c
            else "MISMATCH"
        )
        assert want != "MISMATCH"
        return {
            "rows": n_rows,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "tombstone_files_at_scan": n_tomb,
            "scan_tombstoned_s": round(scan_tomb, 3),
            "scan_clean_s": round(scan_clean, 3),
            "storage_rows": n_clean,
        }
    finally:
        # a failed setup may not have registered these — never let teardown
        # mask the real error
        for obj in ("lad.mv", "lad.src"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_agg(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """Aggregate-path rung: high-cardinality GROUP BY MV (one group per
    ~10 source rows), fixed-size delta per refresh. Δ⁻ eq-deletes the
    touched GROUP KEYS (group-key-clustered storage, r10), Δ⁺ appends the
    re-aggregated groups — both delta-proportional."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    wh = tempfile.mkdtemp(prefix="mvlad-agg-")
    eng = Engine(spark, warehouse=wh)
    try:
        src = eng.create_table(
            "lad.asrc",
            spark.range(1).select(
                F.col("id").alias("k"),
                F.col("id").alias("g"),
                (F.col("id") * 1.0).alias("v"),
            ).schema,
        )
        src.append(
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % (n_rows // 10)).alias("g"),
                (F.col("id") * 1.0).alias("v"),
            )
        )
        eng.create_materialized_view(
            "lad.amv", "SELECT g, sum(v) AS sv, count(v) AS n FROM lad.asrc GROUP BY g"
        )
        walls, bytes_w = [], []
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(src, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            storage = eng.load_table("lad.amv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.amv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.amv__storage")
            after = _storage_file_sizes(storage)
            bytes_w.append(sum(s for p, s in after.items() if p not in before))
            assert flavor.startswith("incremental"), flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = eng.scan_materialized_view("lad.amv").count()
        want = eng.sql(
            "SELECT count(*) c FROM (SELECT g FROM lad.asrc GROUP BY g)"
        ).first().c
        assert got == want
        return {
            "mode": "aggregate",
            "rows": n_rows,
            "groups": n_rows // 10,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "bytes_written": int(statistics.median(bytes_w)),
            "storage_rows": got,
        }
    finally:
        for obj in ("lad.amv", "lad.asrc"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_join(spark, n_rows: int, n_refreshes: int = 5, compound: bool = False) -> dict:
    """Join-path rung (r11, VERDICT r10 #2): two-table inner-join MV with
    (rid_a, rid_b) pair-lineage storage. Fact side A grows 10× per rung
    (dim side B = |A|/10); the per-refresh delta is FIXED (100-row MoR
    delete + 100-row append on A, one 10-row MoR update on B). Δ⁻ commits
    as pair-keyed equality deletes, Δ⁺ as an append — wall and bytes must
    stay flat as |V| grows 100×; the old content-join fallback read the
    whole storage per refresh.

    ``compound=True`` (r12, VERDICT r11 #1): the join carries an
    AND-conjoined two-column key (``a.fk = b.fk AND a.g = b.g``). Before
    multi-pair arm pruning, the equi-key extractor returned None for this shape
    and every refresh re-scanned the full sides — the exact cost the r11
    single-key rung measured (63.7 s/refresh at the 10M rung) before the
    single-key fix; the compound rung must now be flat too."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    wh = tempfile.mkdtemp(prefix="mvlad-join-")
    eng = Engine(spark, warehouse=wh)
    g_of = lambda col: (F.col(col) % 7).alias("g")  # noqa: E731
    try:
        n_dim = max(10, n_rows // 10)
        a_cols = [F.col("id").alias("k"), F.col("id").alias("fk")]
        b_cols = [F.col("id").alias("fk")]
        if compound:
            a_cols.append(g_of("id"))
            b_cols.append(g_of("id"))
        a_cols.append((F.col("id") * 1.0).alias("av"))
        b_cols.append((F.col("id") * 2.0).alias("bv"))
        a = eng.create_table("lad.ja", spark.range(1).select(*a_cols).schema)
        a_proj = [
            F.col("id").alias("k"),
            (F.col("id") % n_dim).alias("fk"),
            (F.col("id") * 1.0).alias("av"),
        ]
        if compound:  # g follows fk so compound pairs actually match
            a_proj.insert(2, (F.col("id") % n_dim % 7).alias("g"))
        a.append(spark.range(n_rows).select(*a_proj))
        b = eng.create_table("lad.jb", spark.range(1).select(*b_cols).schema)
        b.append(spark.range(n_dim).select(*b_cols))
        on = "a.fk = b.fk AND a.g = b.g" if compound else "a.fk = b.fk"
        eng.create_materialized_view(
            "lad.jmv",
            f"SELECT a.k, a.av, b.bv FROM lad.ja a JOIN lad.jb b ON {on}",
        )
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(a, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            d_proj = [
                (F.col("id") + next_k).alias("k"),
                (F.col("id") % n_dim).alias("fk"),
                (F.col("id") * 1.0).alias("av"),
            ]
            if compound:
                d_proj.insert(2, (F.col("id") % n_dim % 7).alias("g"))
            a.append(spark.range(100).select(*d_proj))
            next_k += 100
            update_where(
                b, {"bv": "bv + 0.5"}, f"fk >= {i * 10} AND fk < {i * 10 + 10}",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.jmv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.jmv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.jmv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-changelog-join", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = eng.scan_materialized_view("lad.jmv").count()
        want = eng.sql(
            f"SELECT count(*) c FROM lad.ja a JOIN lad.jb b ON {on}"
        ).first().c
        assert got == want, (got, want)
        return {
            "mode": "join-compound" if compound else "join",
            "rows_a": n_rows,
            "rows_b": n_dim,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": got,
        }
    finally:
        for obj in ("lad.jmv", "lad.ja", "lad.jb"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_join_agg(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """Join+aggregate rung (r12, VERDICT r11 #2 — the TPC-H q5 star
    shape). Fact A (clustered on the join key) grows 10× per rung; dim N
    maps contiguous join-key blocks onto 50 groups; the per-refresh delta
    is FIXED (100-row MoR delete + 100-row append on A, one 10-key MoR
    update on N) and touches only a few groups. The refresh recomputes
    ONLY the affected groups — the probe's full-side arms prune by the
    delta's join keys, and the recompute prunes the fact by the
    affected-groups' dim keys (second-level runtime filter) — so wall and
    bytes must stay ~flat as |A| grows 100×."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    wh = tempfile.mkdtemp(prefix="mvlad-joinagg-")
    eng = Engine(spark, warehouse=wh)
    try:
        n_dim = max(100, n_rows // 10)
        a = eng.create_table(
            "lad.fa",
            spark.range(1).select(
                F.col("id").alias("k"), F.col("id").alias("fk"), (F.col("id") * 1.0).alias("av")
            ).schema,
            sort_by=["fk"],
            properties={"write.distribution-mode": "range"},
        )
        a.append(
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % n_dim).alias("fk"),
                (F.col("id") * 1.0).alias("av"),
            )
        )
        n = eng.create_table(
            "lad.fn",
            spark.range(1).select(
                F.col("id").alias("fk"), F.col("id").alias("seg"), (F.col("id") * 2.0).alias("bv")
            ).schema,
        )
        # contiguous join-key blocks → one group spans one key range, so a
        # contiguous delta touches few groups
        n.append(
            spark.range(n_dim).select(
                F.col("id").alias("fk"),
                (F.col("id") * 50 / n_dim).cast("long").alias("seg"),
                (F.col("id") * 2.0).alias("bv"),
            )
        )
        sql = (
            "SELECT n.seg, sum(a.av) AS s, count(a.k) AS c "
            "FROM lad.fa a JOIN lad.fn n ON a.fk = n.fk GROUP BY n.seg"
        )
        eng.create_materialized_view("lad.jamv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(a, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            base = (i * 137) % max(1, n_dim - 100)
            a.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("k"),
                    (F.col("id") + base).alias("fk"),
                    (F.col("id") * 1.0).alias("av"),
                )
            )
            next_k += 100
            update_where(
                n, {"bv": "bv + 0.5"}, f"fk >= {i * 10} AND fk < {i * 10 + 10}",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.jamv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.jamv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.jamv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-join-aggregate", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = sorted(
            (r.seg, r.s, r.c) for r in eng.scan_materialized_view("lad.jamv").collect()
        )
        want = sorted((r.seg, r.s, r.c) for r in eng.sql(sql).collect())
        assert got == want, (got[:3], want[:3])
        return {
            "mode": "join-agg",
            "rows_a": n_rows,
            "rows_b": n_dim,
            "groups": 50,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": len(got),
        }
    finally:
        for obj in ("lad.jamv", "lad.fa", "lad.fn"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_join3(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """Three-table chain rung (r12, VERDICT r11 #3): lineitem-shaped L
    (clustered on its join key) grows 10× per rung, O = |L|/10 (clustered
    on ITS join key), C = |L|/100; the per-refresh delta is FIXED (100-row
    MoR delete + 100-row append on L, one 10-key MoR update on C). The
    customer update's arm must prune O directly and L through the
    propagation wave — wall and bytes must stay ~flat as |V| grows."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    wh = tempfile.mkdtemp(prefix="mvlad-join3-")
    eng = Engine(spark, warehouse=wh)
    try:
        n_o = max(100, n_rows // 10)
        n_c = max(10, n_rows // 100)
        l = eng.create_table(
            "lad.tl",
            spark.range(1).select(
                F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("qty")
            ).schema,
            sort_by=["ok"],
            properties={"write.distribution-mode": "range"},
        )
        # contiguous ok blocks per file so key pruning bites
        l.append(
            spark.range(n_rows).select(
                F.col("id").alias("lk"),
                (F.col("id") % n_o).alias("ok"),
                (F.col("id") * 1.0).alias("qty"),
            )
        )
        o = eng.create_table(
            "lad.to",
            spark.range(1).select(
                F.col("id").alias("ok"), F.col("id").alias("ck"), (F.col("id") * 2.0).alias("op")
            ).schema,
            sort_by=["ck"],
            properties={"write.distribution-mode": "range"},
        )
        o.append(
            spark.range(n_o).select(
                F.col("id").alias("ok"),
                (F.col("id") * n_c / n_o).cast("long").alias("ck"),
                (F.col("id") * 2.0).alias("op"),
            )
        )
        c = eng.create_table(
            "lad.tc",
            spark.range(1).select(
                F.col("id").alias("ck"), (F.col("id") * 3.0).alias("cv")
            ).schema,
        )
        c.append(
            spark.range(n_c).select(F.col("id").alias("ck"), (F.col("id") * 3.0).alias("cv"))
        )
        sql = (
            "SELECT l.lk, l.qty, o.op, c.cv FROM lad.tl l "
            "JOIN lad.to o ON l.ok = o.ok JOIN lad.tc c ON o.ck = c.ck"
        )
        eng.create_materialized_view("lad.j3mv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(l, f"lk >= {lo} AND lk < {lo + 100}", mode="merge-on-read")
            l.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("lk"),
                    (F.col("id") % n_o).alias("ok"),
                    (F.col("id") * 1.0).alias("qty"),
                )
            )
            next_k += 100
            update_where(
                c, {"cv": "cv + 0.5"}, f"ck >= {i * 10} AND ck < {i * 10 + 10}",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.j3mv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.j3mv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.j3mv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-join3", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = eng.scan_materialized_view("lad.j3mv").count()
        want = eng.sql(
            "SELECT count(*) c FROM lad.tl l JOIN lad.to o ON l.ok = o.ok "
            "JOIN lad.tc c ON o.ck = c.ck"
        ).first().c
        assert got == want, (got, want)
        return {
            "mode": "join3",
            "rows_l": n_rows,
            "rows_o": n_o,
            "rows_c": n_c,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": got,
        }
    finally:
        for obj in ("lad.j3mv", "lad.tl", "lad.to", "lad.tc"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_join3_agg(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """Three-table star + GROUP BY rung (r12 — the full TPC-H q5 shape):
    fact L grows 10× per rung, O = |L|/10, C = |L|/100 carrying 50
    segment groups over contiguous key blocks; fixed delta per refresh
    (100-row MoR delete + 100-row append on L, one 10-key MoR update on
    C). Affected-group recompute must prune down the star chain — wall
    and bytes must stay ~flat."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    wh = tempfile.mkdtemp(prefix="mvlad-j3agg-")
    eng = Engine(spark, warehouse=wh)
    try:
        n_o = max(100, n_rows // 10)
        n_c = max(50, n_rows // 100)
        l = eng.create_table(
            "lad.sl",
            spark.range(1).select(
                F.col("id").alias("lk"), F.col("id").alias("ok"), (F.col("id") * 1.0).alias("amt")
            ).schema,
            sort_by=["ok"],
            properties={"write.distribution-mode": "range"},
        )
        l.append(
            spark.range(n_rows).select(
                F.col("id").alias("lk"),
                (F.col("id") % n_o).alias("ok"),
                (F.col("id") * 1.0).alias("amt"),
            )
        )
        o = eng.create_table(
            "lad.so",
            spark.range(1).select(
                F.col("id").alias("ok"), F.col("id").alias("ck")
            ).schema,
            sort_by=["ck"],
            properties={"write.distribution-mode": "range"},
        )
        o.append(
            spark.range(n_o).select(
                F.col("id").alias("ok"), (F.col("id") * n_c / n_o).cast("long").alias("ck")
            )
        )
        c = eng.create_table(
            "lad.sc",
            spark.range(1).select(
                F.col("id").alias("ck"), F.col("id").alias("seg"), (F.col("id") * 1.0).alias("cv")
            ).schema,
        )
        c.append(
            spark.range(n_c).select(
                F.col("id").alias("ck"),
                (F.col("id") * 50 / n_c).cast("long").alias("seg"),
                (F.col("id") * 1.0).alias("cv"),
            )
        )
        sql = (
            "SELECT c.seg, sum(l.amt) AS rev, count(l.lk) AS cnt "
            "FROM lad.sl l JOIN lad.so o ON l.ok = o.ok "
            "JOIN lad.sc c ON o.ck = c.ck GROUP BY c.seg"
        )
        eng.create_materialized_view("lad.smv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(l, f"lk >= {lo} AND lk < {lo + 100}", mode="merge-on-read")
            base = (i * 137) % max(1, n_o - 100)
            l.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("lk"),
                    (F.col("id") + base).alias("ok"),
                    (F.col("id") * 1.0).alias("amt"),
                )
            )
            next_k += 100
            update_where(
                c, {"cv": "cv + 0.5"}, f"ck >= {i * 10} AND ck < {i * 10 + 10}",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.smv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.smv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.smv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-join3-aggregate", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = sorted(
            (r.seg, r.rev, r.cnt) for r in eng.scan_materialized_view("lad.smv").collect()
        )
        want = sorted((r.seg, r.rev, r.cnt) for r in eng.sql(sql).collect())
        assert got == want, (got[:3], want[:3])
        return {
            "mode": "join3-agg",
            "rows_l": n_rows,
            "rows_o": n_o,
            "rows_c": n_c,
            "groups": 50,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": len(got),
        }
    finally:
        for obj in ("lad.smv", "lad.sl", "lad.so", "lad.sc"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_joinN(spark, n_rows: int, n_refreshes: int = 5, n_rel: int = 4) -> dict:
    """n-relation chain rung (r13, VERDICT r12 #1 — the generalization
    past the r12 hard-coded 3 slots). A chain t0 ⋈ t1 ⋈ … ⋈ t{n-1} with
    each slot 10× smaller than the last, every slot clustered on its
    outgoing join key; fixed delta per refresh (100-row MoR delete +
    100-row append on t0, one 10-key MoR update on the TAIL dim — the
    worst case: its arm must prune every other slot through the
    propagation wave). Wall and bytes must stay ~flat as |t0| grows."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where

    wh = tempfile.mkdtemp(prefix="mvlad-joinN-")
    eng = Engine(spark, warehouse=wh)
    names = [f"lad.n{i}" for i in range(n_rel)]
    try:
        sizes = [max(10, n_rows // (10 ** i)) for i in range(n_rel)]
        tabs = []
        for i, (name, sz) in enumerate(zip(names, sizes)):
            t = eng.create_table(
                name,
                spark.range(1).select(
                    F.col("id").alias(f"k{i}"),
                    F.col("id").alias(f"f{i}"),
                    (F.col("id") * 1.0).alias(f"v{i}"),
                ).schema,
                sort_by=[f"f{i}"],
                properties={"write.distribution-mode": "range"},
            )
            nxt = sizes[i + 1] if i + 1 < n_rel else 1
            # contiguous fk blocks per file so key pruning bites
            t.append(
                spark.range(sz).select(
                    F.col("id").alias(f"k{i}"),
                    (F.col("id") * nxt / sz).cast("long").alias(f"f{i}"),
                    (F.col("id") * 1.0).alias(f"v{i}"),
                )
            )
            tabs.append(t)
        frm = f"{names[0]} x0 " + " ".join(
            f"JOIN {names[i]} x{i} ON x{i-1}.f{i-1} = x{i}.k{i}"
            for i in range(1, n_rel)
        )
        sql = (
            f"SELECT x0.k0, x0.v0, x{n_rel-1}.v{n_rel-1} AS tail FROM {frm}"
        )
        eng.create_materialized_view("lad.nmv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        tail = tabs[-1]
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(tabs[0], f"k0 >= {lo} AND k0 < {lo + 100}", mode="merge-on-read")
            tabs[0].append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("k0"),
                    (F.col("id") % sizes[1]).alias("f0"),
                    (F.col("id") * 1.0).alias("v0"),
                )
            )
            next_k += 100
            # wrap the 10-key window inside the tail's key space so EVERY
            # rung's refresh updates 10 real keys (10 keys × fanout
            # |t0|/|tail| = same affected-view-row count per rung — the
            # like-for-like delta the flatness claim needs)
            base = (i * 10) % max(1, sizes[-1] - 9)
            update_where(
                tail, {f"v{n_rel-1}": f"v{n_rel-1} + 0.5"},
                f"k{n_rel-1} >= {base} AND k{n_rel-1} < {base + 10}",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.nmv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.nmv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.nmv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == f"incremental-join{n_rel}", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = eng.scan_materialized_view("lad.nmv").count()
        want = eng.sql(f"SELECT count(*) c FROM {frm}").first().c
        assert got == want, (got, want)
        return {
            "mode": f"join{n_rel}-chain",
            "rows_t0": n_rows,
            "sizes": sizes,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": got,
        }
    finally:
        for obj in ["lad.nmv"] + names:
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_left_join(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """LEFT-join rung (r13, VERDICT r12 #2): fact A grows 10× per rung,
    dim B = |A|/10 but covering only HALF the fact key space (so
    null-extended rows are a standing population); fixed delta per
    refresh — 100-row MoR delete + 100-row append on A, plus a 10-key
    dim flip (insert 5 previously-missing keys, MoR-delete 5 present
    ones) that converts specific fact rows matched↔null-extended both
    ways. The affected-A-row recompute must keep wall and bytes ~flat:
    both rescans file-prune by keys(ΔA) ∪ keys(ΔB)."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    wh = tempfile.mkdtemp(prefix="mvlad-lj-")
    eng = Engine(spark, warehouse=wh)
    try:
        n_keys = max(20, n_rows // 10)
        a = eng.create_table(
            "lad.la",
            spark.range(1).select(
                F.col("id").alias("k"), F.col("id").alias("fk"), (F.col("id") * 1.0).alias("av")
            ).schema,
            sort_by=["fk"],
            properties={"write.distribution-mode": "range"},
        )
        a.append(
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % n_keys).alias("fk"),
                (F.col("id") * 1.0).alias("av"),
            )
        )
        b = eng.create_table(
            "lad.lb",
            spark.range(1).select(
                F.col("id").alias("bk"), (F.col("id") * 2.0).alias("bv")
            ).schema,
        )
        # even keys only: odd-keyed facts stay null-extended
        b.append(
            spark.range(n_keys // 2).select(
                (F.col("id") * 2).alias("bk"), (F.col("id") * 2.0).alias("bv")
            )
        )
        sql = "SELECT a.k, a.av, b.bv FROM lad.la a LEFT JOIN lad.lb b ON a.fk = b.bk"
        eng.create_materialized_view("lad.lmv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(a, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            a.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("k"),
                    (F.col("id") % n_keys).alias("fk"),
                    (F.col("id") * 1.0).alias("av"),
                )
            )
            next_k += 100
            # flip 5 odd keys to matched, 5 even keys to null-extended
            base = (i * 10) % (n_keys - 10)
            b.append(
                spark.createDataFrame(
                    [(base + 2 * j + 1, 9.9) for j in range(5)], "bk long, bv double"
                )
            )
            delete_where(
                b, f"bk >= {base} AND bk < {base + 10} AND bk % 2 = 0",
                mode="merge-on-read",
            )
            storage = eng.load_table("lad.lmv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.lmv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.lmv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-left-join", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = eng.scan_materialized_view("lad.lmv")
        n_all, n_null = got.count(), got.where("bv IS NULL").count()
        want = eng.sql(f"SELECT count(*) c FROM ({sql})").first().c
        want_null = eng.sql(
            f"SELECT count(*) c FROM ({sql}) WHERE bv IS NULL"
        ).first().c
        assert (n_all, n_null) == (want, want_null), ((n_all, n_null), (want, want_null))
        return {
            "mode": "left-join",
            "rows_a": n_rows,
            "dim_keys": n_keys,
            "null_extended_rows": n_null,
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
            "storage_rows": n_all,
        }
    finally:
        for obj in ("lad.lmv", "lad.la", "lad.lb"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def run_rung_rollup(spark, n_rows: int, n_refreshes: int = 5) -> dict:
    """Time-rollup rung (r13, VERDICT r12 #3): AVG + GROUP BY
    date_trunc('day', ts) over a ts-clustered source growing 10× per
    rung; fixed delta per refresh (100-row MoR delete + 100-row append
    inside ONE day bucket). The affected-group recompute pushes the
    raw-column envelope [min_bucket, max_bucket + 1 day] into the source
    scan, so refresh wall and bytes must stay ~flat while the source and
    its day count grow."""
    from pyspark.sql import functions as F

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    wh = tempfile.mkdtemp(prefix="mvlad-rollup-")
    eng = Engine(spark, warehouse=wh)
    try:
        # ~1000 rows per day bucket; day count grows with the source
        t = eng.create_table(
            "lad.rt",
            spark.range(1).select(
                F.col("id").alias("k"),
                F.to_timestamp(F.lit("2024-01-01")).alias("ts"),
                (F.col("id") * 1.0).alias("v"),
            ).schema,
            sort_by=["ts"],
            properties={"write.distribution-mode": "range"},
        )
        t.append(
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                F.expr(
                    "timestampadd(SECOND, CAST(id * 86.4 AS LONG), "
                    "TIMESTAMP '2024-01-01 00:00:00')"
                ).alias("ts"),
                (F.col("id") * 1.0).alias("v"),
            )
        )
        sql = (
            "SELECT date_trunc('day', ts) AS d, avg(v) AS av, count(*) AS n "
            "FROM lad.rt GROUP BY date_trunc('day', ts)"
        )
        eng.create_materialized_view("lad.rmv", sql)
        walls, bytes_w, files_w = [], [], []
        next_k = n_rows
        for i in range(n_refreshes):
            lo = i * 100
            delete_where(t, f"k >= {lo} AND k < {lo + 100}", mode="merge-on-read")
            t.append(
                spark.range(100).select(
                    (F.col("id") + next_k).alias("k"),
                    F.expr(
                        f"timestampadd(SECOND, CAST(id + {i * 100} AS LONG), "
                        "TIMESTAMP '2024-01-01 12:00:00')"
                    ).alias("ts"),
                    (F.col("id") * 1.0).alias("v"),
                )
            )
            next_k += 100
            storage = eng.load_table("lad.rmv__storage")
            before = _storage_file_sizes(storage)
            t0 = time.perf_counter()
            flavor = eng.refresh_materialized_view("lad.rmv")
            walls.append(time.perf_counter() - t0)
            storage = eng.load_table("lad.rmv__storage")
            after = _storage_file_sizes(storage)
            added = {p: s for p, s in after.items() if p not in before}
            bytes_w.append(sum(added.values()))
            files_w.append(len(added))
            assert flavor == "incremental-agg-recompute", flavor
            assert all(p in after for p in before), "pre-existing storage file dropped"
        got = sorted(
            (str(r.d), r.n) for r in eng.scan_materialized_view("lad.rmv").collect()
        )
        want = sorted((str(r.d), r.n) for r in eng.sql(sql).collect())
        assert got == want, (got[:2], want[:2])
        return {
            "mode": "rollup-avg",
            "rows": n_rows,
            "day_buckets": len(got),
            "refresh_wall_s": round(statistics.median(walls), 3),
            "refresh_wall_all": [round(w, 3) for w in walls],
            "bytes_written": int(statistics.median(bytes_w)),
            "files_written": int(statistics.median(files_w)),
        }
    finally:
        for obj in ("lad.rmv", "lad.rt"):
            try:
                eng.drop(obj)
            except Exception:
                pass
        shutil.rmtree(wh, ignore_errors=True)


def main():
    args = sys.argv[1:]
    agg = "--agg" in args
    join = "--join" in args
    join_compound = "--join-compound" in args
    join_agg = "--join-agg" in args
    join3 = "--join3" in args
    join3_agg = "--join3-agg" in args
    joinN = "--joinN" in args
    rollup = "--rollup" in args
    left_join = "--left-join" in args
    rungs = [int(a) for a in args if a.isdigit()] or [10_000, 100_000, 1_000_000]
    from iceberg_rust_custom_spark.session import get_spark

    spark = get_spark("mv_ladder")
    for n in rungs:
        if joinN:
            out = run_rung_joinN(spark, n)
        elif rollup:
            out = run_rung_rollup(spark, n)
        elif left_join:
            out = run_rung_left_join(spark, n)
        elif join_compound:
            out = run_rung_join(spark, n, compound=True)
        elif join3_agg:
            out = run_rung_join3_agg(spark, n)
        elif join_agg:
            out = run_rung_join_agg(spark, n)
        elif join3:
            out = run_rung_join3(spark, n)
        elif join:
            out = run_rung_join(spark, n)
        elif agg:
            out = run_rung_agg(spark, n)
        else:
            out = run_rung(spark, n)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
