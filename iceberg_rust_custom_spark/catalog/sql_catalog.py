"""SQL (sqlite) catalog with UPDATE-WHERE CAS.

Mirrors the reference's SQL catalog commit (iceberg-sql-catalog/src/
lib.rs:424-472): the metadata pointer lives in a row; the swap is
``UPDATE ... SET metadata_location = new WHERE metadata_location = expected``
and a zero rowcount means a concurrent committer won.
"""

from __future__ import annotations

import json
import sqlite3

from iceberg_rust_custom_spark.catalog.base import Catalog, CommitFailed, Identifier


class SqlCatalog(Catalog):
    def __init__(self, db_path: str):
        self.db_path = db_path
        with self._conn() as c:
            c.execute(
                """CREATE TABLE IF NOT EXISTS iceberg_tables (
                       namespace TEXT NOT NULL,
                       name TEXT NOT NULL,
                       kind TEXT NOT NULL DEFAULT 'table',
                       metadata_location TEXT NOT NULL,
                       PRIMARY KEY (namespace, name)
                   )"""
            )
            c.execute("CREATE TABLE IF NOT EXISTS namespaces (namespace TEXT PRIMARY KEY)")
            try:  # migrate pre-r6 databases that lack the properties column
                c.execute("ALTER TABLE namespaces ADD COLUMN properties TEXT NOT NULL DEFAULT '{}'")
            except sqlite3.OperationalError:
                pass  # column already present

    def _conn(self):
        conn = sqlite3.connect(self.db_path, timeout=30)
        conn.isolation_level = None  # autocommit; explicit transactions below
        return conn

    def create_namespace(self, namespace: tuple, properties: dict | None = None) -> None:
        with self._conn() as c:
            cur = c.execute(
                "INSERT OR IGNORE INTO namespaces (namespace, properties) VALUES (?, ?)",
                (".".join(namespace), json.dumps(properties or {})),
            )
        if cur.rowcount == 0 and properties:
            # already exists: MERGE the supplied properties (same semantics
            # as the file/object-store backends — ADVICE r6)
            self.update_namespace(namespace, updates=properties)

    def list_namespaces(self) -> list[tuple]:
        with self._conn() as c:
            rows = c.execute("SELECT namespace FROM namespaces ORDER BY 1").fetchall()
        return [tuple(r[0].split(".")) for r in rows]

    def load_namespace(self, namespace: tuple) -> dict:
        with self._conn() as c:
            row = c.execute(
                "SELECT properties FROM namespaces WHERE namespace = ?", (".".join(namespace),)
            ).fetchone()
        if row is None:
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        return json.loads(row[0] or "{}")

    def update_namespace(
        self, namespace: tuple, updates: dict | None = None, removals: list | None = None
    ) -> dict:
        key = ".".join(namespace)
        with self._conn() as c:
            c.execute("BEGIN IMMEDIATE")  # serialize read-modify-write
            try:
                row = c.execute(
                    "SELECT properties FROM namespaces WHERE namespace = ?", (key,)
                ).fetchone()
                if row is None:
                    raise FileNotFoundError(f"no such namespace: {key}")
                props = json.loads(row[0] or "{}")
                for k in removals or ():
                    props.pop(k, None)
                props.update(updates or {})
                c.execute(
                    "UPDATE namespaces SET properties = ? WHERE namespace = ?",
                    (json.dumps(props), key),
                )
                c.execute("COMMIT")
            except BaseException:
                c.execute("ROLLBACK")
                raise
        return props

    def drop_namespace(self, namespace: tuple) -> None:
        if not self.namespace_exists(namespace):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        self._ensure_namespace_empty(namespace)
        with self._conn() as c:
            cur = c.execute("DELETE FROM namespaces WHERE namespace = ?", (".".join(namespace),))
            if cur.rowcount != 1:
                raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")

    def list_tabulars(self, namespace: tuple) -> list[Identifier]:
        with self._conn() as c:
            rows = c.execute(
                "SELECT name FROM iceberg_tables WHERE namespace = ? ORDER BY 1", (".".join(namespace),)
            ).fetchall()
        return [Identifier(namespace, r[0]) for r in rows]

    def tabular_exists(self, identifier: Identifier) -> bool:
        with self._conn() as c:
            row = c.execute(
                "SELECT 1 FROM iceberg_tables WHERE namespace = ? AND name = ?",
                (".".join(identifier.namespace), identifier.name),
            ).fetchone()
        return row is not None

    def register(self, identifier: Identifier, metadata_location: str, kind: str = "table") -> None:
        try:
            with self._conn() as c:
                c.execute(
                    "INSERT INTO iceberg_tables VALUES (?, ?, ?, ?)",
                    (".".join(identifier.namespace), identifier.name, kind, metadata_location),
                )
        except sqlite3.IntegrityError:
            raise CommitFailed(f"{identifier} already exists") from None

    def load(self, identifier: Identifier) -> tuple[str, str]:
        with self._conn() as c:
            row = c.execute(
                "SELECT metadata_location, kind FROM iceberg_tables WHERE namespace = ? AND name = ?",
                (".".join(identifier.namespace), identifier.name),
            ).fetchone()
        if row is None:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        return row[0], row[1]

    def swap(self, identifier: Identifier, expected_location: str, new_location: str) -> None:
        with self._conn() as c:
            cur = c.execute(
                "UPDATE iceberg_tables SET metadata_location = ? "
                "WHERE namespace = ? AND name = ? AND metadata_location = ?",
                (new_location, ".".join(identifier.namespace), identifier.name, expected_location),
            )
        if cur.rowcount != 1:
            if not self.tabular_exists(identifier):
                raise FileNotFoundError(f"no such tabular: {identifier}")
            raise CommitFailed(f"{identifier}: concurrent commit (CAS matched 0 rows)")

    def drop(self, identifier: Identifier) -> None:
        with self._conn() as c:
            c.execute(
                "DELETE FROM iceberg_tables WHERE namespace = ? AND name = ?",
                (".".join(identifier.namespace), identifier.name),
            )
