"""Table facade: scan / append / overwrite / time travel / metadata tables.

Reference: iceberg-rust/src/table/mod.rs:40-214 (Table, manifests(),
datafiles()), datafusion_iceberg/src/table.rs (scan + insert wiring).
"""

from __future__ import annotations

import os
import re
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from iceberg_rust_custom_spark.catalog.base import Catalog, Identifier
from iceberg_rust_custom_spark.functions.local_rows import local_rows_df
from iceberg_rust_custom_spark.metadata.expressions import Expr, parse_predicate
from iceberg_rust_custom_spark.metadata.snapshot import MAIN_BRANCH, Snapshot
from iceberg_rust_custom_spark.io.fileio import FileIO
from iceberg_rust_custom_spark.metadata.table_metadata import TableMetadata
from iceberg_rust_custom_spark.table.scan import plan_files, read_data_files, scan_to_dataframe
from iceberg_rust_custom_spark.table.transaction import Transaction
from iceberg_rust_custom_spark.table.write import write_partitioned


_FILE_SCHEME = re.compile("^file:/+")


def _strip_file_scheme(path: str) -> str:
    """Spark's ``_metadata.file_path`` is a ``file:`` URI while manifests
    store plain paths: compare scheme-stripped forms. No percent-decoding
    and no absolutizing (unlike ``io.lister.canon_path``)."""
    return _FILE_SCHEME.sub("/", path)


def _replayable_commit(s: Snapshot) -> bool:
    """Commit shapes the row-level changelog can replay: appends, MoR
    delete commits, metadata-only 'replace', and append-shaped 'overwrite'
    (MoR UPDATE/MERGE) — everything except a file-set replacement."""
    op = s.summary.get("operation")
    return op in ("append", "delete", "replace") or (
        op == "overwrite" and s.summary.get("rewritten") != "true"
    )


def _transparent_rewrite(s: Snapshot) -> bool:
    """A file-set replacement with ZERO net row change (compact / zorder /
    rewrite_position_deletes stamp ``lineage-preserved=true``): the visible
    row multiset is identical before and after, so the changelog can skip
    the commit entirely and replay the surrounding ranges against the
    snapshots on either side."""
    return (
        s.summary.get("rewritten") == "true"
        and s.summary.get("lineage-preserved") == "true"
    )


def _touched_data_files(
    pq_dels, dv_dels, eq_cand, max_driver_bytes: int = 64 * 1024 * 1024
):
    """Data-file paths the in-range tombstones may reference, derived on
    the driver without running the tombstone subplan (r14): DV puffin
    entries carry ``referenced_data_file`` in manifest metadata; equality
    deletes pass their (driver-computed) bounds-intersecting candidate
    files; parquet position-delete files either carry
    ``referenced_data_file`` too or are read directly with pyarrow —
    they are delete-sized, and the read is capped at ``max_driver_bytes``
    and local files. Returns a normalized sorted superset (extra files
    only cost read time — the victims⋈tombstones inner join drops them),
    or None when driver-side derivation is not possible (caller falls
    back to one Spark collect over the tombstone plan)."""
    touched: set = set()
    for d in dv_dels:
        if not d.referenced_data_file:
            return None
        touched.add(d.referenced_data_file)
    for f in eq_cand:
        touched.add(f.file_path)
    unref = [d for d in pq_dels if not d.referenced_data_file]
    touched.update(d.referenced_data_file for d in pq_dels if d.referenced_data_file)
    if unref:
        if sum(d.file_size_in_bytes or 0 for d in unref) > max_driver_bytes or any(
            not d.file_size_in_bytes for d in unref
        ):
            return None
        import pyarrow.parquet as _pq

        for d in unref:
            p = _strip_file_scheme(d.file_path)
            if not os.path.exists(p):
                return None  # non-local scheme: keep the distributed path
            touched.update(
                _pq.read_table(p, columns=["file_path"])
                .column("file_path")
                .unique()
                .to_pylist()
            )
    # one normalized form so a file never appears under both its plain and
    # file:-URI spellings (a double entry would read the file twice and
    # duplicate its delete events)
    return sorted({_strip_file_scheme(p) for p in touched})


def changelog_segments(
    metadata: TableMetadata, lo: int, hi: int
) -> list[tuple[int, int, Snapshot]]:
    """Split the changelog range (lo, hi] at lineage-preserved rewrite
    commits (r9 — previously ANY rewrite killed the range): each returned
    ``(seg_lo, seg_hi, anchor)`` replays against the state of ``anchor``,
    the latest main-ancestry snapshot at or below ``seg_hi``, so tombstone
    files swallowed by a later compaction and data files it rewrote are
    both read from the PRE-compaction snapshot (compaction retains history
    by default — maintenance.compact). This is what keeps CDC followers
    and incremental MVs alive across routine table maintenance at 100 TB.

    Raises ValueError on a genuine file-set replacement (CoW row-level op,
    dynamic overwrite) in range, or when a destructive (history-erasing)
    rewrite or snapshot expiry hides part of the range.

    Only snapshots on the REF'S OWN ANCESTRY (parent chain from the head)
    participate (r10, ADVICE r9 #1): a commit on another branch neither
    contributes events to this ref's changelog nor — critically — splits
    the range: a lineage-preserved rewrite committed off-ancestry would
    otherwise anchor segments at its (off-ancestry) parent and silently
    drop main-branch events."""
    if hi <= lo:
        return []
    ancestry: list[Snapshot] = []
    truncated = False  # the parent chain dangles into expired history
    s = metadata.snapshot_for_ref()
    while s is not None:
        ancestry.append(s)
        if s.parent_snapshot_id is None:
            break
        nxt = metadata.snapshots.get(s.parent_snapshot_id)
        if nxt is None:
            truncated = True
            break
        s = nxt
    in_range = [s for s in ancestry if lo < s.sequence_number <= hi]
    for s in in_range:
        if not _replayable_commit(s) and not _transparent_rewrite(s):
            raise ValueError(
                f"snapshot {s.snapshot_id} is a {s.summary.get('operation')!r} "
                "file-set replacement — row-level changelog is only defined "
                "across append/delete-shaped commits"
            )
    # expiry guard: the oldest retained ancestor has sequence S; a dangling
    # parent pointer means ancestors with sequence < S were expired.
    # ``expire_snapshots`` stamps ``changelog.replay-floor`` — the highest
    # removed main-ancestry REWRITE sequence (r10): removed plain appends /
    # MoR deletes leave their files (with sequence numbers) in the
    # surviving manifests, so ranges starting at or above the floor replay
    # exactly even below S-1. No floor recorded (legacy expiry, or a
    # destructive rewrite erased history without stamping) → conservative:
    # the gap's contents are unknowable and a range reaching below S-1
    # must fail loudly instead of silently skipping erased events.
    if truncated and ancestry and lo < ancestry[-1].sequence_number - 1:
        floor = metadata.properties.get("changelog.replay-floor")
        if floor is None or lo < int(floor):
            resume = (
                max(int(floor), 0)
                if floor is not None
                else ancestry[-1].sequence_number - 1
            )
            raise ValueError(
                f"history below sequence {ancestry[-1].sequence_number} was "
                f"expired or erased — a changelog range starting at {lo} may "
                "skip erased events; this range must start at or after "
                f"sequence {resume}"
            )
    # anchor = state at hi: walk the ancestry down to seq <= hi
    anchor = next((s for s in ancestry if s.sequence_number <= hi), None)
    if anchor is None:
        if in_range:
            raise ValueError(
                f"no readable snapshot at or below sequence {hi} — history "
                "containing the range end was erased (expired or destructively "
                "rewritten)"
            )
        if truncated and ancestry:
            # the whole range sits below the oldest RETAINED ancestor (hi <
            # its sequence), yet the expiry guard above already proved the
            # replay sound from lo (a recorded floor <= lo): expired plain
            # appends / MoR deletes keep their files — with their original
            # sequence numbers — in the surviving manifests, so the oldest
            # retained ancestor's state contains every event in (lo, hi].
            # Returning [] here silently skipped those replayable events
            # (ADVICE r10); replay them from that ancestor's manifests,
            # range-filtered as usual.
            return [(lo, hi, ancestry[-1])]
        return []
    rewrites = sorted(
        (s for s in in_range if _transparent_rewrite(s)),
        key=lambda s: s.sequence_number,
    )
    if not rewrites:
        return [(lo, hi, anchor)]
    segments: list[tuple[int, int, Snapshot]] = []
    cur_hi, cur_anchor = hi, anchor
    for r in reversed(rewrites):
        if r.sequence_number < cur_hi:
            segments.append((r.sequence_number, cur_hi, cur_anchor))
        parent = (
            metadata.snapshots.get(r.parent_snapshot_id)
            if r.parent_snapshot_id is not None
            else None
        )
        if parent is None:
            # a DESTRUCTIVE rewrite erased everything before itself; the
            # skip is still sound iff the range holds nothing below it
            # (the common caught-up-stream case: lo == rewrite_seq - 1)
            if r.sequence_number - 1 > lo or any(
                lo < s.sequence_number < r.sequence_number for s in ancestry
            ):
                raise ValueError(
                    f"rewrite snapshot {r.snapshot_id} erased pre-rewrite "
                    f"history — this changelog range must start at or after "
                    f"sequence {r.sequence_number - 1}"
                )
            return list(reversed(segments))
        cur_hi, cur_anchor = parent.sequence_number, parent
    if cur_hi > lo:
        segments.append((lo, cur_hi, cur_anchor))
    return list(reversed(segments))


class Table:
    def __init__(self, catalog: Catalog, identifier: Identifier, metadata: TableMetadata, spark: SparkSession):
        self.catalog = catalog
        self.identifier = identifier
        self.metadata = metadata
        self.spark = spark

    # ------------------------------------------------------------- lifecycle
    def refresh(self) -> "Table":
        location, _ = self.catalog.load(self.identifier)
        self.metadata = TableMetadata.from_json(FileIO.read_text(location))
        return self

    def update_schema(self):
        """Fluent schema evolution: ``t.update_schema().add_column(...)
        .rename_column(...).widen_column(...).commit()`` — old files stay
        readable via field-id resolution in the scan."""
        from iceberg_rust_custom_spark.metadata.schema_evolution import SchemaUpdate

        return SchemaUpdate(self)

    def update_partition_spec(self, *transforms: str) -> "Table":
        """Partition evolution: switch new writes to a new spec, e.g.
        ``t.update_partition_spec("month(o_orderdate)", "bucket(16, o_custkey)")``.
        Old data files keep their old layout and stay readable — scans
        decode each manifest with the spec it was written under; pruning is
        exact for files under the new spec and falls back to file-level
        stats for the rest. ``compact()`` rewrites everything under the new
        spec. Fields identical to a prior spec's (same source, same
        transform) keep their field id and name, per Iceberg's evolution
        rule."""
        from iceberg_rust_custom_spark.ddl import parse_transform
        from iceberg_rust_custom_spark.metadata.partition import PartitionSpec

        md = self.metadata
        schema = md.current_schema()
        pairs = [parse_transform(t.strip()) for t in transforms]
        reuse = {}
        max_field_id = 999
        for spec in md.partition_specs.values():
            for pf in spec.fields:
                reuse[(pf.source_id, pf.transform.name)] = pf
                max_field_id = max(max_field_id, pf.field_id)
        new_spec_id = max(md.partition_specs) + 1 if md.partition_specs else 0
        spec = PartitionSpec.build(
            schema, *pairs, spec_id=new_spec_id, first_field_id=max_field_id + 1, reuse=reuse
        )
        names = [f.name for f in spec.fields]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate partition field names in new spec: {names}")
        # A parameter-only evolution (bucket[4] → bucket[8] on one column)
        # generates the same base field name for a DIFFERENT field. Naming
        # must stay unambiguous — partition tuples are keyed by field name —
        # so disambiguate the new field with its transform parameter
        # (id_bucket → id_bucket_8) instead of refusing the evolution
        # (ADVICE r4; rewrites regroup by the threaded spec_id, so file
        # routing is exact either way).
        import dataclasses as _dc

        taken = {
            (pf.name, pf.field_id) for s in md.partition_specs.values() for pf in s.fields
        }
        fixed = []
        for nf in spec.fields:
            clash = any(name == nf.name and fid != nf.field_id for name, fid in taken)
            if clash:
                param = nf.transform.name.split("[")[-1].rstrip("]")
                candidate = f"{nf.name}_{param}" if param != nf.transform.name else f"{nf.name}_{nf.field_id}"
                while any(name == candidate and fid != nf.field_id for name, fid in taken):
                    candidate += "x"
                nf = _dc.replace(nf, name=candidate)
            fixed.append(nf)
        spec = PartitionSpec(spec_id=spec.spec_id, fields=tuple(fixed))
        self.metadata = self.new_transaction().update_spec(spec).commit()
        return self

    def new_transaction(self, branch: str = MAIN_BRANCH) -> Transaction:
        return Transaction(self.catalog, self.identifier, self.metadata, branch)

    # ------------------------------------------------------------ refs (§1.4)
    def create_branch(self, name: str, snapshot_id: int | None = None) -> "Table":
        """Named branch at a snapshot (default: current head). Appends with
        branch=<name> advance it independently of main
        (snapshot.rs:242-281)."""
        snap = self.metadata.snapshot_for_ref() if snapshot_id is None else self.metadata.snapshot_by_id(snapshot_id)
        if snap is None:
            raise ValueError("cannot branch an empty table")
        self.metadata = self.new_transaction().set_ref(name, snap.snapshot_id, "branch").commit()
        return self

    def create_tag(self, name: str, snapshot_id: int | None = None) -> "Table":
        """Immutable named snapshot pointer (retention-tag semantics)."""
        snap = self.metadata.snapshot_for_ref() if snapshot_id is None else self.metadata.snapshot_by_id(snapshot_id)
        if snap is None:
            raise ValueError("cannot tag an empty table")
        self.metadata = self.new_transaction().set_ref(name, snap.snapshot_id, "tag").commit()
        return self

    def refs(self) -> dict:
        return dict(self.metadata.refs)

    def drop_ref(self, name: str) -> "Table":
        """Remove a branch or tag pointer (snapshots stay until expiry).
        Iceberg forbids dropping the main branch."""
        if name == MAIN_BRANCH:
            raise ValueError("cannot drop the main branch")
        if name not in self.metadata.refs:
            raise ValueError(f"no such ref: {name!r}")
        tx = self.new_transaction()
        tx._extra_updates.append({"action": "remove-snapshot-ref", "ref-name": name})
        self.metadata = tx.commit()
        return self

    def fast_forward(self, from_branch: str, to_branch: str = MAIN_BRANCH) -> "Table":
        """Write-audit-publish: move ``to_branch`` (default main) up to
        ``from_branch``'s head. Only a true fast-forward is allowed — the
        target's current snapshot must be an ancestor of the source head,
        so publishing never discards commits. The typical WAP flow:
        ``create_branch('audit')`` → append/validate on the branch →
        ``fast_forward('audit')`` publishes atomically (one CAS commit),
        with readers of main never seeing unaudited data."""
        src = self.metadata.snapshot_for_ref(from_branch)
        if src is None:
            raise ValueError(f"branch {from_branch!r} has no snapshot")
        dst = self.metadata.snapshot_for_ref(to_branch)
        if dst is not None:
            cur, ok = src, False
            while cur is not None:
                if cur.snapshot_id == dst.snapshot_id:
                    ok = True
                    break
                cur = (
                    self.metadata.snapshots.get(cur.parent_snapshot_id)
                    if cur.parent_snapshot_id is not None
                    else None
                )
            if not ok:
                raise ValueError(
                    f"{to_branch!r} @ {dst.snapshot_id} is not an ancestor of "
                    f"{from_branch!r} @ {src.snapshot_id}: not a fast-forward"
                )
            if dst.snapshot_id == src.snapshot_id:
                return self
        self.metadata = self.new_transaction(to_branch).set_ref(
            to_branch, src.snapshot_id, "branch"
        ).commit()
        return self

    def rollback_to(self, snapshot_id: int | None = None, *, timestamp_ms: int | None = None,
                    branch: str = MAIN_BRANCH) -> "Table":
        """Move ``branch`` back to an ANCESTOR snapshot (metadata-only, one
        CAS commit — no data rewritten; the abandoned snapshots stay
        readable by id until expiry, so a rollback is itself reversible
        with ``set_current_snapshot``). Pass ``timestamp_ms`` to roll back
        to the last snapshot at or before a wall-clock instant. The
        ancestry check distinguishes rollback from arbitrary pointer moves:
        rolling back can only UNDO commits, never graft unrelated history."""
        if (snapshot_id is None) == (timestamp_ms is None):
            raise ValueError("pass exactly one of snapshot_id / timestamp_ms")
        if timestamp_ms is not None:
            snap = self.metadata.snapshot_as_of(timestamp_ms)
            if snap is None:
                raise ValueError(f"no snapshot at or before {timestamp_ms}")
            snapshot_id = snap.snapshot_id
        elif snapshot_id not in self.metadata.snapshots:
            raise ValueError(f"no such snapshot: {snapshot_id}")
        head = self.metadata.snapshot_for_ref(branch)
        cur = head
        while cur is not None and cur.snapshot_id != snapshot_id:
            cur = (
                self.metadata.snapshots.get(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        if cur is None:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of {branch!r} @ "
                f"{head.snapshot_id if head else None}: use set_current_snapshot "
                "to move to unrelated history"
            )
        if head is not None and head.snapshot_id == snapshot_id:
            return self
        self.metadata = self.new_transaction(branch).set_ref(branch, snapshot_id, "branch").commit()
        return self

    def set_current_snapshot(self, snapshot_id: int, branch: str = MAIN_BRANCH) -> "Table":
        """Point ``branch`` at ANY existing snapshot (cherry-pick-style
        pointer move; no ancestry requirement — e.g. jump main onto an
        audit branch's head, or undo a rollback)."""
        if snapshot_id not in self.metadata.snapshots:
            raise ValueError(f"no such snapshot: {snapshot_id}")
        self.metadata = self.new_transaction(branch).set_ref(branch, snapshot_id, "branch").commit()
        return self

    # ------------------------------------------------------------------ read
    def _resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        branch: str = MAIN_BRANCH,
    ) -> Snapshot | None:
        if snapshot_id is not None:
            return self.metadata.snapshot_by_id(snapshot_id)
        if as_of_timestamp_ms is not None:
            return self.metadata.snapshot_as_of(as_of_timestamp_ms)
        if branch != MAIN_BRANCH and branch not in self.metadata.refs:
            # a typo'd branch must error, not silently scan empty
            raise KeyError(f"no branch or tag named {branch!r}")
        return self.metadata.snapshot_for_ref(branch)

    def scan(
        self,
        predicate: Expr | str | None = None,
        columns: list[str] | None = None,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        branch: str = MAIN_BRANCH,
        row_lineage: bool = False,
        metadata_columns: list[str] | None = None,
    ) -> DataFrame:
        snap = self._resolve_snapshot(snapshot_id, as_of_timestamp_ms, branch)
        time_travel = snapshot_id is not None or as_of_timestamp_ms is not None
        return scan_to_dataframe(
            self.spark,
            self.metadata,
            snap,
            predicate,
            columns,
            use_snapshot_schema=time_travel,
            row_lineage=row_lineage,
            metadata_columns=metadata_columns,
        )

    def to_df(self, **kwargs) -> DataFrame:
        return self.scan(**kwargs)

    def join_scan(
        self,
        dim_df: DataFrame,
        on,
        how: str = "inner",
        predicate=None,
        columns: list[str] | None = None,
        max_keys: int | None = None,
        broadcast_dim: bool | None = None,
    ) -> DataFrame:
        """Scan this table joined with ``dim_df``, pruning this table's
        files by the dim side's ACTUAL join-key values first (runtime
        filtering / dynamic-partition-pruning analogue —
        ``table/runtime_filter.py``). ``on`` is a column name, list of
        names, or ``{fact_col: dim_col}``.

        Only inner/semi shapes are accepted: the runtime filter removes
        fact rows without join partners, which changes outer/anti results.
        ``broadcast_dim`` defaults to True — a dim worth probing is a dim
        worth broadcasting; pass False for large dims and let AQE decide."""
        from pyspark.sql import functions as F

        from iceberg_rust_custom_spark.metadata.expressions import And
        from iceberg_rust_custom_spark.table.runtime_filter import (
            DEFAULT_MAX_KEYS,
            join_key_predicate,
            _normalize_on,
        )

        if how not in ("inner", "semi", "left_semi", "leftsemi"):
            raise ValueError(
                f"join_scan supports inner/semi joins only (runtime file pruning "
                f"is unsound for {how!r}: it drops rows without join partners)"
            )
        pairs = _normalize_on(on)
        key_pred = join_key_predicate(
            dim_df, pairs, max_keys=max_keys if max_keys is not None else DEFAULT_MAX_KEYS
        )
        if predicate is not None:
            if isinstance(predicate, str):
                predicate = parse_predicate(predicate)
            key_pred = And(predicate, key_pred)
        fact = self.scan(key_pred)
        dim = F.broadcast(dim_df) if broadcast_dim is not False else dim_df
        spark_how = "left_semi" if how in ("semi", "left_semi", "leftsemi") else how
        if all(fc == dc for fc, dc in pairs):
            # name join: Spark coalesces the key columns, no ambiguity
            out = fact.join(dim, [fc for fc, _ in pairs], spark_how)
        else:
            cond = None
            for fc, dc in pairs:
                c = fact[fc] == dim[dc]
                cond = c if cond is None else (cond & c)
            out = fact.join(dim, cond, spark_how)
            if spark_how == "inner":
                for _, dc in pairs:  # key columns are equal by the join — keep fact's
                    out = out.drop(dim[dc])
        return out.select(*columns) if columns else out

    def incremental_scan(
        self,
        from_sequence_number: int,
        to_sequence_number: int | None = None,
        snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """Rows appended in (from, to] — the reference's snapshot-range read
        (table/mod.rs:120-144), used for MV delta detection. ``snapshot``
        overrides the state the range is planned against (the changelog's
        segment replay anchors at pre-compaction snapshots)."""
        snap = snapshot if snapshot is not None else self.metadata.snapshot_for_ref(MAIN_BRANCH)
        end = to_sequence_number if to_sequence_number is not None else self.metadata.last_sequence_number
        files = plan_files(self.metadata, snap, None, (from_sequence_number, end))
        return read_data_files(self.spark, self.metadata, files)

    def changes(
        self,
        from_sequence_number: int,
        to_sequence_number: int | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """CDC read: the row-level changes committed in
        (from, to] as data rows plus a ``_change_type`` column
        ('insert' | 'delete'). Appends yield inserts; merge-on-read
        position deletes (parquet or DV) yield the deleted rows' full
        content; equality deletes (``delete_by_key``) convert to position
        form against the strictly-older live file set with the scan's own
        sequence-gated key join (r8 — previously refused), so a MoR CDC
        pipeline keeps its changelog. Rows already dead before the range
        never re-emit. Feeds incremental consumers (downstream MVs, stream
        backfills) without re-reading the table.

        ``with_lineage=True`` adds the v3 ``_row_id`` column and upgrades
        the changelog to UPDATE detection: a delete and an insert sharing
        a row id inside the range pair up as 'update_before' /
        'update_after' (exactly what a MoR UPDATE/MERGE commits — the
        tombstoned row and its re-appended version carry the same
        ``_row_id``, table/maintenance.py).

        File-set REPLACEMENT commits with a net row change (CoW
        delete/update/merge, dynamic overwrite — summary ``rewritten=true``)
        do not record row-level change information; a range containing one
        raises rather than emit a wrong changelog. MoR UPDATE/MERGE commits
        are append-shaped ('overwrite' operation WITHOUT the marker) and
        replay fine. ZERO-NET-CHANGE rewrites (compact / zorder /
        rewrite_position_deletes stamp ``lineage-preserved=true``) are
        changelog-TRANSPARENT (r9): the range splits at each such commit
        and every sub-range replays against the snapshot on its side of the
        rewrite (``changelog_segments``), so routine compaction no longer
        kills CDC followers or incremental MV maintenance."""
        end = to_sequence_number if to_sequence_number is not None else self.metadata.last_sequence_number
        segments = changelog_segments(self.metadata, from_sequence_number, end)
        parts = [
            self._changes_segment(lo, hi, snap, with_lineage)
            for lo, hi, snap in segments
        ]
        if not parts:
            from pyspark.sql import functions as F

            empty = read_data_files(self.spark, self.metadata, [])
            if with_lineage:
                empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
            return empty.withColumn("_change_type", F.lit("insert"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _changes_segment(
        self, from_sequence_number: int, end: int, snap: Snapshot | None, with_lineage: bool
    ) -> DataFrame:
        """Row-level changes in (from, end] replayed against the state of
        ``snap`` (the latest snapshot at or below ``end`` — see
        ``changelog_segments``); the caller guarantees the range contains
        only replayable commits."""
        from pyspark.sql import functions as F

        from iceberg_rust_custom_spark.table.scan import (
            data_file_sequence_numbers,
            eq_victim_candidates,
            equality_delete_hits_with_seq,
            plan_delete_files,
            position_tombstones,
        )

        if with_lineage:
            new_files = plan_files(self.metadata, snap, None, (from_sequence_number, end))
            # the file's sequence number IS the insert event's commit:
            # kept (hidden) so update pairing can require the delete and
            # insert to come from the SAME commit — a full-history range
            # must not relabel a row's ORIGINAL insert as update_after
            inserts = read_data_files(
                self.spark, self.metadata, new_files, lineage=True, snapshot=snap
            ).withColumnRenamed("_last_updated_sequence_number", "_sg_cseq")
        else:
            inserts = self.incremental_scan(from_sequence_number, end, snapshot=snap)
        inserts = inserts.withColumn("_change_type", F.lit("insert"))

        all_del_entries = plan_delete_files(self.metadata, snap)
        in_range = [
            e for e in all_del_entries if from_sequence_number < e.sequence_number <= end
        ]
        pre_range = [e for e in all_del_entries if e.sequence_number <= from_sequence_number]
        del_files = [e.data_file for e in in_range if e.data_file.content == 1]
        eq_in_range = [e for e in in_range if e.data_file.content == 2]
        if not del_files and not eq_in_range:
            return inserts.drop("_sg_cseq") if with_lineage else inserts
        # every tombstone carries its commit's sequence number so update
        # pairing can match deletes to SAME-commit re-inserts. Parquet
        # tombstones and DV blobs each batch into ONE read for the whole
        # range (position_tombstones with_seq) — one union part per commit
        # would blow up plan size on long MoR histories. Equality deletes
        # (content=2) convert to position form against the strictly-older
        # live file set with the same sequence-gated key join the scan
        # uses — their victims ARE computable from range-end state on a
        # replayable (append/delete only) history, since appends never
        # remove files.
        pq_dels = [d for d in del_files if d.file_format != "puffin"]
        dv_dels = [d for d in del_files if d.file_format == "puffin"]
        parts = [position_tombstones(self.spark, del_files, with_seq=True)] if del_files else []
        eq_victims_planned = False
        if eq_in_range:
            file_seqs = data_file_sequence_numbers(self.metadata, snap)
            # victim candidates: strictly older than a delete AND key
            # bounds intersect it (r9 — previously every older live file
            # was read; see scan.eq_delete_can_touch)
            cand = eq_victim_candidates(
                plan_files(self.metadata, snap),
                eq_in_range,
                self.metadata.current_schema(),
                file_seqs,
                schemas=self.metadata.schemas,
            )
            if cand:
                src = read_data_files(self.spark, self.metadata, cand, address=True)
                hits = equality_delete_hits_with_seq(
                    self.spark, src, eq_in_range, file_seqs, schema=self.metadata.current_schema()
                )
                parts.append(
                    hits.select(
                        F.col("_sg_file").alias("file_path"),
                        F.col("_sg_pos").alias("pos"),
                        "_del_seq",
                    )
                )
                eq_victims_planned = True
        if not parts:
            return inserts.drop("_sg_cseq") if with_lineage else inserts
        tombs = parts[0]
        for p in parts[1:]:
            tombs = tombs.unionByName(p)
        # one delete event per row, attributed to the FIRST commit that
        # killed it (a position tombstone and an equality delete can both
        # target the same row)
        tombs = tombs.groupBy("file_path", "pos").agg(F.min("_del_seq").alias("_del_seq"))
        # only the data files the tombstones reference need reading. r14:
        # derive the list WITHOUT executing the tombstone subplan — every
        # component is driver-known (DV blobs name referenced_data_file in
        # manifest metadata; equality deletes already computed their
        # bounds-intersecting candidate list) or driver-readable (parquet
        # position-delete files are delete-sized; read their file_path
        # column with pyarrow when local and small). A superset is sound:
        # extra files only add read cost — the victims⋈tombstones inner
        # join below drops rows with no tombstone. This removes one full
        # Spark job per changes() call (previously the whole tombstone
        # subplan ran once for this collect and again in the returned
        # plan, which r13 had papered over with an unconditionally eager
        # localCheckpoint that doubled iceberg_changelog_compaction).
        touched = _touched_data_files(
            pq_dels, dv_dels, cand if eq_victims_planned else []
        )
        if touched is None:
            # remote/oversized/refless delete files: one Spark job over the
            # tombstone subplan. Checkpoint only when it embeds the
            # expensive equality-victim join (two consumers: this collect
            # + the returned plan); position-only tombstones are cheap to
            # recompute (VERDICT r13 #2).
            if eq_victims_planned:
                tombs = tombs.localCheckpoint()
            touched = [r.file_path for r in tombs.select("file_path").distinct().collect()]
        touched_set = {_strip_file_scheme(p) for p in touched}
        touched_files = [
            f
            for f in plan_files(self.metadata, snap)
            if _strip_file_scheme(f.file_path) in touched_set
        ]
        # rows already dead BEFORE the range (pending pre-range tombstones /
        # equality deletes) must not emit delete events when an in-range
        # delete targets them again
        victims = read_data_files(
            self.spark,
            self.metadata,
            touched_files,
            address=True,
            lineage=with_lineage,
            deletes=pre_range,
            snapshot=snap,
        )
        if with_lineage:
            victims = victims.drop("_last_updated_sequence_number")
        deleted = (
            victims.join(
                F.broadcast(tombs),
                (victims["_sg_file"] == tombs["file_path"]) & (victims["_sg_pos"] == tombs["pos"]),
                "inner",
            )
            .drop("_sg_file", "_sg_pos", "file_path", "pos")
            .withColumn("_change_type", F.lit("delete"))
        )
        if with_lineage:
            deleted = deleted.withColumnRenamed("_del_seq", "_sg_cseq")
        else:
            deleted = deleted.drop("_del_seq")
        out = inserts.unionByName(deleted)
        if with_lineage:
            # UPDATE pairing: a delete and an insert of the SAME row id in
            # the SAME commit are one logical update (exactly what MoR
            # UPDATE/MERGE emits: tombstone + re-append, one transaction) —
            # relabel the two halves. Commit-scoped, so a full-history range
            # never relabels the row's ORIGINAL insert. NULL row ids
            # (pre-v3 files) never pair (null keys don't join).
            keys = ["_row_id", "_sg_cseq"]
            paired = (
                deleted.select(*keys)
                .join(inserts.select(*keys), keys, "inner")
                .distinct()
                .withColumn("_sg_upd", F.lit(True))
            )
            out = (
                out.join(F.broadcast(paired), keys, "left")
                .withColumn(
                    "_change_type",
                    F.when(
                        F.col("_sg_upd").isNotNull(),
                        F.when(
                            F.col("_change_type") == "delete", F.lit("update_before")
                        ).otherwise(F.lit("update_after")),
                    ).otherwise(F.col("_change_type")),
                )
                .drop("_sg_upd", "_sg_cseq")
            )
        return out

    # ----------------------------------------------------------------- write
    def _refresh_for_write(self) -> None:
        """Re-load the latest committed metadata before a write, so a handle
        held across another writer's (or the Engine's DDL) commit writes
        against the CURRENT schema/spec instead of failing the cast to a
        stale one — the Iceberg client convention (commits rebase; writes
        plan against the freshest metadata). Handles detached from a
        catalog (dropped table, in-memory use) keep their local view."""
        try:
            self.refresh()
        except Exception:
            pass

    def append(
        self,
        df: DataFrame,
        branch: str = MAIN_BRANCH,
        summary: dict | None = None,
        small_hint: bool = False,
    ) -> "Table":
        """``small_hint=True`` (r13): the caller expects a delta-sized
        frame (streaming micro-batches, MV delta commits) — try the
        driver-side single-file write fast path; oversize inputs fall back
        to the distributed write automatically."""
        self._refresh_for_write()
        data_dir = os.path.join(self.metadata.data_dir(), _uuid.uuid4().hex[:12])
        files = write_partitioned(df, self.metadata, data_dir, small_hint=small_hint)
        tx = self.new_transaction(branch).append(files)
        if summary:
            tx.set_summary(summary)
        self.metadata = tx.commit()
        return self

    def overwrite(self, df: DataFrame, branch: str = MAIN_BRANCH) -> "Table":
        self._refresh_for_write()
        data_dir = os.path.join(self.metadata.data_dir(), _uuid.uuid4().hex[:12])
        files = write_partitioned(df, self.metadata, data_dir)
        self.metadata = self.new_transaction(branch).rewrite(files).commit()
        return self

    def dynamic_overwrite(self, df: DataFrame, branch: str = MAIN_BRANCH) -> "Table":
        """Dynamic partition overwrite (Iceberg's classic
        ``overwrite-mode=dynamic``): replace ONLY the partitions present in
        the incoming data — files of untouched partitions carry over
        unchanged, in one atomic commit. The daily-backfill shape: rewrite
        yesterday's partition without touching the other 10 years.

        The replaced-partition set is computed from the NEW files'
        partition tuples (metadata-only — no extra scan job); on an
        unpartitioned table this degrades to a full overwrite. The commit
        is history-retaining: prior snapshots stay time-travelable and the
        replaced files are reclaimed later by expire/vacuum, not deleted
        inline (a dynamic overwrite by construction keeps most history
        live, so inline deletion would be wrong).

        Pending merge-on-read deletes (position/equality/DV): the rewrite
        commit carries untouched-partition files as content=0 entries only,
        so pending delete files would otherwise be dropped and their
        deleted rows resurrect in carried partitions. Guard: materialize
        deletes for ONLY the carried files a pending delete actually
        references — work scales with the delete set, never the table
        (a one-partition backfill on a 100 TB table with one stray DV must
        not become a full-table rewrite)."""
        from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

        self._refresh_for_write()
        data_dir = os.path.join(self.metadata.data_dir(), _uuid.uuid4().hex[:12])
        new_files = write_partitioned(df, self.metadata, data_dir)
        if not self.metadata.default_spec().is_partitioned:
            self.metadata = self.new_transaction(branch).rewrite(new_files, retain_history=True).commit()
            return self
        replaced = {tuple(sorted(f.partition.items())) for f in new_files}
        snap = self.metadata.snapshot_for_ref(branch)
        carried = [
            f
            for f in plan_files(self.metadata, snap)
            if tuple(sorted(f.partition.items())) not in replaced
        ]
        deletes = plan_delete_files(self.metadata, snap)
        if deletes and carried:
            carried = self._materialize_carried_deletes(carried, deletes, snap, data_dir)
        self.metadata = (
            self.new_transaction(branch).rewrite(carried + new_files, retain_history=True).commit()
        )
        return self

    def _materialize_carried_deletes(self, carried: list, deletes: list, snap, data_dir: str) -> list:
        """Rewrite ONLY the carried data files that a pending
        merge-on-read delete actually touches, returning the new carried
        set (untouched files pass through by reference).

        Scoping per delete kind:
        * DV blobs name their target file (v3 ``referenced_data_file``) —
          exact, zero I/O.
        * parquet position deletes: one metadata-scale Spark job reads the
          DISTINCT ``file_path`` column of the delete files (KBs).
        * equality deletes apply globally with strictly-older sequence
          gating (matching scan-time application exactly), so every older
          carried file is affected.
        """
        from iceberg_rust_custom_spark.table.scan import (
            data_file_sequence_numbers,
            eq_victim_candidates,
            position_tombstones,
        )

        pos_entries = [e for e in deletes if e.data_file.content == 1]
        eq_entries = [e for e in deletes if e.data_file.content == 2]
        referenced: set[str] = set()
        unscoped_pos = []  # parquet position deletes without addressing info
        for e in pos_entries:
            if e.data_file.referenced_data_file:
                referenced.add(_strip_file_scheme(e.data_file.referenced_data_file))
            else:
                unscoped_pos.append(e.data_file)
        if unscoped_pos:
            referenced.update(
                _strip_file_scheme(r.file_path)
                for r in position_tombstones(self.spark, unscoped_pos)
                .select("file_path")
                .distinct()
                .collect()
            )
        if eq_entries:
            # scan-time application (_apply_equality_deletes) is GLOBAL with
            # only sequence gating, so the materialization must cover every
            # strictly-older carried file the delete COULD match —
            # partition-scoping here was unsound because the scan ignores
            # partitions (ADVICE r7), but KEY-BOUNDS scoping agrees with the
            # scan exactly: disjoint footer min/max on a key column proves
            # the anti-join removes zero rows from that file, so carrying it
            # unmodified is identical either way (r9; eq_delete_can_touch).
            for f in eq_victim_candidates(
                carried,
                eq_entries,
                self.metadata.current_schema(),
                data_file_sequence_numbers(self.metadata, snap),
                schemas=self.metadata.schemas,
            ):
                referenced.add(_strip_file_scheme(f.file_path))
        affected = [f for f in carried if _strip_file_scheme(f.file_path) in referenced]
        untouched = [f for f in carried if _strip_file_scheme(f.file_path) not in referenced]
        if not affected:
            return carried
        # v3 row lineage: surviving rows of the materialized files keep
        # their identity (explicit columns; write_partitioned marks -1)
        df = read_data_files(
            self.spark, self.metadata, affected, lineage=True, deletes=deletes, snapshot=snap
        )
        mat_files = write_partitioned(df, self.metadata, os.path.join(data_dir, "materialized"))
        return untouched + mat_files

    # ------------------------------------------------------ metadata tables
    def snapshots(self) -> DataFrame:
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.sequence_number,
                s.timestamp_ms,
                s.summary.get("operation", ""),
                s.manifest_list,
            )
            for s in self.metadata.snapshots.values()
        ]
        return local_rows_df(self.spark, 
            rows,
            "snapshot_id long, parent_id long, sequence_number long, timestamp_ms long, operation string, manifest_list string",
        )

    def files(self, snapshot_id: int | None = None) -> DataFrame:
        """Live data files as a DataFrame, read distributed from the
        manifest parquets (never materialized on the driver — the metadata
        table stays queryable when the file count is itself big data)."""
        from iceberg_rust_custom_spark.table.scan import files_df

        snap = self._resolve_snapshot(snapshot_id)
        return files_df(self.spark, self.metadata, snap).where("content = 0").select(
            "file_path", "partition", "record_count", "file_size_in_bytes"
        )

    def entries(self, snapshot_id: int | None = None) -> DataFrame:
        """Full manifest-entry metadata table (all content types, stats as
        JSON columns) — the distributed planning surface."""
        from iceberg_rust_custom_spark.table.scan import files_df

        snap = self._resolve_snapshot(snapshot_id)
        return files_df(self.spark, self.metadata, snap)

    def partitions(self, snapshot_id: int | None = None) -> DataFrame:
        """Per-partition rollup of the live files (Iceberg's `partitions`
        metadata table): file/record counts and byte totals per partition
        tuple. Computed distributed over the manifest parquets — at 100 TB
        the partition count is itself large, so this never collects."""
        from pyspark.sql import functions as F

        from iceberg_rust_custom_spark.table.scan import files_df

        snap = self._resolve_snapshot(snapshot_id)
        return (
            files_df(self.spark, self.metadata, snap)
            .where("content = 0")
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("record_count").alias("record_count"),
                F.sum("file_size_in_bytes").alias("total_size_in_bytes"),
            )
        )

    def manifests(self, snapshot_id: int | None = None) -> DataFrame:
        """The `manifests` metadata table (Iceberg parity): one row per
        manifest in the selected snapshot's manifest list, with file/row
        counts and partition FieldSummary bounds as JSON. The manifest list
        is a single small parquet — read it with Spark so the surface stays
        uniform with files()/entries()."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap is None:
            return local_rows_df(self.spark, 
                [], "manifest_path string, partition_spec_id int, content int, "
                "sequence_number long, min_sequence_number long, added_files_count int, "
                "existing_files_count int, deleted_files_count int, added_rows_count long, "
                "existing_rows_count long, partition_summaries string",
            )
        return self.spark.read.parquet(snap.manifest_list).withColumnRenamed(
            "partitions", "partition_summaries"
        )

    def all_files(self) -> DataFrame:
        """The `all_files`/`all_data_files` metadata table: distinct data
        files referenced by ANY snapshot (incl. ones no longer live on
        main) — the input to retention/debugging queries. Distributed read
        over the union of every snapshot's manifests."""
        from iceberg_rust_custom_spark.metadata.manifest import read_manifest_list
        from iceberg_rust_custom_spark.table.scan import files_df

        paths: list[str] = []
        seen: set[str] = set()
        for s in self.metadata.snapshots.values():
            for row in read_manifest_list(s.manifest_list):
                p = row["manifest_path"]
                if p not in seen:
                    seen.add(p)
                    paths.append(p)
        return (
            files_df(self.spark, self.metadata, None, manifest_paths=paths)
            .where("content = 0 AND status != 2")
            .select("file_path", "partition", "record_count", "file_size_in_bytes")
            .distinct()
        )

    def all_manifests(self) -> DataFrame:
        """The `all_manifests` metadata table: one row per (snapshot,
        manifest) across the whole history."""
        from iceberg_rust_custom_spark.metadata.manifest import read_manifest_list

        rows = [
            (
                s.snapshot_id,
                r["manifest_path"],
                r.get("partition_spec_id", 0),
                r.get("content", 0),
                r.get("sequence_number", 0),
                r.get("added_files_count", 0),
                r.get("existing_files_count", 0),
                r.get("deleted_files_count", 0),
            )
            for s in self.metadata.snapshots.values()
            for r in read_manifest_list(s.manifest_list)
        ]
        return local_rows_df(self.spark, 
            rows,
            "reference_snapshot_id long, manifest_path string, partition_spec_id int, "
            "content int, sequence_number long, added_files_count int, "
            "existing_files_count int, deleted_files_count int",
        )

    def analyze(self, columns: list[str] | None = None) -> "Table":
        """Compute/refresh per-column NDV statistics (mergeable HLL blobs;
        incremental over appends — table/statistics.py)."""
        from iceberg_rust_custom_spark.table.statistics import analyze

        return analyze(self, columns)

    def statistics_df(self) -> DataFrame:
        """The `statistics` metadata table: (column, ndv, snapshot_id,
        sequence_number) from the latest analyzed snapshot."""
        from iceberg_rust_custom_spark.table.statistics import table_statistics

        return table_statistics(self)

    def refs_df(self) -> DataFrame:
        """The `refs` metadata table: branches and tags with retention."""
        rows = [
            (
                name,
                ref.ref_type,
                ref.snapshot_id,
                ref.min_snapshots_to_keep,
                ref.max_snapshot_age_ms,
                ref.max_ref_age_ms,
            )
            for name, ref in self.metadata.refs.items()
        ]
        return local_rows_df(self.spark, 
            rows,
            "name string, type string, snapshot_id long, min_snapshots_to_keep int, "
            "max_snapshot_age_ms long, max_ref_age_ms long",
        )

    def history(self) -> DataFrame:
        return local_rows_df(self.spark, 
            [(e["timestamp-ms"], e["snapshot-id"]) for e in self.metadata.snapshot_log],
            "timestamp_ms long, snapshot_id long",
        )

    def scan_report(self, predicate: Expr | str | None = None) -> dict:
        """Pruning observability: what would a scan with this predicate
        read? Returns {manifests_total, manifests_pruned (skipped by
        FieldSummary before being opened), files_scanned (entries actually
        evaluated), files_planned, bytes_planned, rows_planned} — the
        ".explain for metadata" loop: check a predicate prunes BEFORE
        running it on the cluster."""
        if isinstance(predicate, str):
            predicate = parse_predicate(predicate)
        snap = self.metadata.snapshot_for_ref()
        report: dict = {}
        plan_files(self.metadata, snap, predicate, report=report)
        return report

    def count_planned_files(self, predicate: Expr | str | None = None) -> int:
        """How many data files a scan with this predicate would read —
        the observable effect of two-level pruning (used by tests)."""
        if isinstance(predicate, str):
            predicate = parse_predicate(predicate)
        snap = self.metadata.snapshot_for_ref(MAIN_BRANCH)
        return len(plan_files(self.metadata, snap, predicate))
