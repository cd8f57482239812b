"""SQL views and materialized views with freshness tracking.

Reference model:
* View metadata with versioned SQL representations —
  iceberg-rust-spec/src/spec/view_metadata.rs:43-72,276-306.
* Materialized view = view whose ``storage_table`` points at a real table
  named ``<view>__storage`` — iceberg-rust/src/materialized_view/mod.rs:26.
* Freshness: RefreshState { refresh_version_id, source_table_states:
  (table uuid → snapshot id) } stored with the storage table —
  iceberg-rust-spec/src/spec/materialized_view_metadata.rs:33-48; refresh
  classifies each source Fresh / Outdated / Invalid
  (datafusion_iceberg/src/materialized_view.rs:29-207) and recomputes only
  when stale (full refresh; incremental is unimplemented in the reference
  too — README.md:40-46).
* View SQL is read through Spark's parser (views/sql_plan.py).
"""

from __future__ import annotations

import json
import time
import uuid as _uuid
from dataclasses import dataclass, field


@dataclass
class ViewVersion:
    """One view version holding ONE OR MORE SQL representations keyed by
    dialect (reference: Vec<ViewRepresentation::Sql{sql, dialect}> per
    version, view_metadata.rs:276-306). ``sql``/``dialect`` remain the
    primary (default-dialect) representation for in-engine replay;
    ``representations`` carries the full list for cross-engine portability."""

    version_id: int
    sql: str
    dialect: str = "spark"
    timestamp_ms: int = 0
    representations: list = field(default_factory=list)  # [{"type","sql","dialect"}]

    def __post_init__(self):
        if not self.representations:
            self.representations = [{"type": "sql", "sql": self.sql, "dialect": self.dialect}]

    def sql_for(self, dialect: str) -> str | None:
        """The SQL representation for ``dialect``, or None if not stored."""
        for r in self.representations:
            if r.get("type", "sql") == "sql" and r.get("dialect") == dialect:
                return r["sql"]
        return None

    def with_representation(self, sql: str, dialect: str) -> "ViewVersion":
        """Copy of this version with a representation for ``dialect`` added
        or replaced (one representation per dialect per version, mirroring
        the reference's uniqueness expectation)."""
        reps = [r for r in self.representations if r.get("dialect") != dialect]
        reps.append({"type": "sql", "sql": sql, "dialect": dialect})
        return ViewVersion(self.version_id, self.sql, self.dialect, self.timestamp_ms, reps)

    def to_dict(self) -> dict:
        return {
            "version-id": self.version_id,
            "sql": self.sql,
            "dialect": self.dialect,
            "timestamp-ms": self.timestamp_ms,
            "representations": list(self.representations),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ViewVersion":
        return cls(
            d["version-id"],
            d["sql"],
            d.get("dialect", "spark"),
            d.get("timestamp-ms", 0),
            list(d.get("representations") or []),  # legacy JSON: synthesized in __post_init__
        )


@dataclass
class ViewMetadata:
    view_uuid: str
    location: str
    current_version_id: int
    versions: dict  # version_id -> ViewVersion
    properties: dict = field(default_factory=dict)
    storage_table: str | None = None  # set for materialized views
    # [{"timestamp-ms", "version-id"}, …] — every change of the current
    # version appends here (reference: view_metadata.rs:56-61 version_log)
    version_log: list = field(default_factory=list)

    @classmethod
    def new(cls, location: str, sql: str, storage_table: str | None = None) -> "ViewMetadata":
        ts = int(time.time() * 1000)
        v = ViewVersion(1, sql, timestamp_ms=ts)
        return cls(
            str(_uuid.uuid4()), location, 1, {1: v}, {}, storage_table,
            version_log=[{"timestamp-ms": ts, "version-id": 1}],
        )

    def current_sql(self) -> str:
        return self.versions[self.current_version_id].sql

    def new_version(self, version: "ViewVersion") -> "ViewVersion":
        """Register a NEW current version with id max+1 and append to the
        version log — view updates never mutate an existing version
        (reference: view/transaction/operation.rs:24-90 UpdateRepresentation
        builds a fresh ViewVersion; view_metadata.rs:56-61). ``version``'s
        version_id/timestamp are overwritten."""
        import dataclasses as _dc

        vid = max(self.versions) + 1 if self.versions else 1
        ts = int(time.time() * 1000)
        v = _dc.replace(version, version_id=vid, timestamp_ms=ts)
        self.versions[vid] = v
        self.current_version_id = vid
        self.version_log.append({"timestamp-ms": ts, "version-id": vid})
        return v

    def to_json(self) -> str:
        return json.dumps(
            {
                "view-uuid": self.view_uuid,
                "format-version": 1,
                "location": self.location,
                "current-version-id": self.current_version_id,
                "versions": [v.to_dict() for v in self.versions.values()],
                "version-log": list(self.version_log),
                "properties": self.properties,
                "storage-table": self.storage_table,
            },
            indent=1,
        )

    @classmethod
    def from_json(cls, s: str) -> "ViewMetadata":
        d = json.loads(s)
        return cls(
            view_uuid=d["view-uuid"],
            location=d["location"],
            current_version_id=d["current-version-id"],
            versions={v["version-id"]: ViewVersion.from_dict(v) for v in d["versions"]},
            properties=d.get("properties", {}),
            storage_table=d.get("storage-table"),
            version_log=list(d.get("version-log") or []),
        )


@dataclass
class View:
    name: str
    metadata: ViewMetadata


@dataclass
class MaterializedView:
    name: str
    metadata: ViewMetadata


def transform_name(name: str) -> str:
    """a.b.c → a__b__c: the temp-view name a relation is registered under
    and spliced into SQL text as (reference sql.rs:12-32)."""
    return name.replace(".", "__")
