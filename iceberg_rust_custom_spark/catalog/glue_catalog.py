"""AWS Glue Data Catalog backend (reference: iceberg-glue-catalog/src/lib.rs).

The reference stores the current metadata location in the Glue table's
``Parameters`` map and commits via ``UpdateTable`` conditioned on the table's
``VersionId`` (lib.rs:531-551, 617-659) — Glue bumps the version id on every
update, so a stale version id means a concurrent committer won and the update
is rejected. That is the same optimistic-concurrency shape as the SQL
catalog's UPDATE-WHERE, with Glue's version id playing the role of the
expected pointer.

This module speaks the *public botocore Glue API subset* (get_table /
create_table / update_table / delete_table / get_tables / create_database /
get_databases). Pass a real ``boto3.client('glue')`` when available; the
bundled :class:`FakeGlueClient` implements the same subset in-process —
including version-id CAS and Glue's exception names — for tests and
offline development (boto3 is deliberately not imported here).

Glue databases are single-level, so a namespace tuple maps to one database
name joined with ``.`` (the reference flattens identically).
"""

from __future__ import annotations

import itertools
import threading

from iceberg_rust_custom_spark.catalog.base import Catalog, CommitFailed, Identifier

_METADATA_LOCATION = "metadata_location"
_KIND = "iceberg_kind"
_TABLE_TYPE = "table_type"


def _error_name(exc: Exception) -> str:
    """Classify a Glue client error without importing botocore: real boto3
    raises subclasses named after the API error (EntityNotFoundException,
    ConcurrentModificationException, AlreadyExistsException); botocore's
    generic ClientError carries the same name in response metadata."""
    name = type(exc).__name__
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        name = resp.get("Error", {}).get("Code", name)
    return name


class GlueCatalog(Catalog):
    """Catalog over an AWS Glue client (or any object with the same API)."""

    def __init__(self, client):
        self.client = client

    @classmethod
    def connect(cls, region_name: str | None = None, **boto3_client_kwargs) -> "GlueCatalog":
        """Real AWS wiring: build over ``boto3.client('glue')`` when boto3
        is importable (credentials resolve through the standard AWS chain),
        else fall back to the in-process :class:`FakeGlueClient`. The rest
        of the catalog is identical either way — the fake speaks the same
        public API subset including version-id CAS semantics."""
        try:
            import boto3  # noqa: PLC0415 - optional dependency by design

            if region_name is not None:
                boto3_client_kwargs["region_name"] = region_name
            return cls(boto3.client("glue", **boto3_client_kwargs))
        except ImportError:
            return cls(FakeGlueClient())

    # -- namespaces -------------------------------------------------------

    def create_namespace(self, namespace: tuple, properties: dict | None = None) -> None:
        try:
            self.client.create_database(
                DatabaseInput={"Name": ".".join(namespace), "Parameters": dict(properties or {})}
            )
        except Exception as e:  # noqa: BLE001 - classified by name below
            if _error_name(e) != "AlreadyExistsException":
                raise
            if properties:  # merge into the existing database, as the other backends do
                self.update_namespace(namespace, updates=properties)

    def load_namespace(self, namespace: tuple) -> dict:
        """Namespace properties live in the Glue Database's ``Parameters``
        map (the same slot the reference's Glue catalog uses for
        table-level pointers — lib.rs:531-551)."""
        try:
            db = self.client.get_database(Name=".".join(namespace))["Database"]
        except Exception as e:  # noqa: BLE001
            if _error_name(e) == "EntityNotFoundException":
                raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}") from None
            raise
        return dict(db.get("Parameters", {}))

    def update_namespace(
        self, namespace: tuple, updates: dict | None = None, removals: list | None = None
    ) -> dict:
        props = self.load_namespace(namespace)
        for k in removals or ():
            props.pop(k, None)
        props.update(updates or {})
        self.client.update_database(
            Name=".".join(namespace),
            DatabaseInput={"Name": ".".join(namespace), "Parameters": props},
        )
        return props

    def drop_namespace(self, namespace: tuple) -> None:
        if not self.namespace_exists(namespace):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        self._ensure_namespace_empty(namespace)
        try:
            self.client.delete_database(Name=".".join(namespace))
        except Exception as e:  # noqa: BLE001
            if _error_name(e) == "EntityNotFoundException":
                raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}") from None
            raise

    def list_namespaces(self) -> list[tuple]:
        out = []
        for db in self.client.get_databases().get("DatabaseList", []):
            out.append(tuple(db["Name"].split(".")))
        return sorted(out)

    def list_tabulars(self, namespace: tuple) -> list[Identifier]:
        try:
            resp = self.client.get_tables(DatabaseName=".".join(namespace))
        except Exception as e:  # noqa: BLE001
            if _error_name(e) == "EntityNotFoundException":
                return []
            raise
        return [Identifier(namespace, t["Name"]) for t in sorted(resp.get("TableList", []), key=lambda t: t["Name"])]

    # -- tabulars ---------------------------------------------------------

    def _get(self, identifier: Identifier) -> dict | None:
        try:
            return self.client.get_table(
                DatabaseName=".".join(identifier.namespace), Name=identifier.name
            )["Table"]
        except Exception as e:  # noqa: BLE001
            if _error_name(e) == "EntityNotFoundException":
                return None
            raise

    def tabular_exists(self, identifier: Identifier) -> bool:
        return self._get(identifier) is not None

    def register(self, identifier: Identifier, metadata_location: str, kind: str = "table") -> None:
        self.create_namespace(identifier.namespace)
        existing = self._get(identifier)
        if existing is not None:
            raise ValueError(f"{identifier} already exists")
        self.client.create_table(
            DatabaseName=".".join(identifier.namespace),
            TableInput={
                "Name": identifier.name,
                "Parameters": {
                    _METADATA_LOCATION: metadata_location,
                    _KIND: kind,
                    _TABLE_TYPE: "ICEBERG",
                },
            },
        )

    def load(self, identifier: Identifier) -> tuple[str, str]:
        t = self._get(identifier)
        if t is None:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        params = t.get("Parameters", {})
        return params[_METADATA_LOCATION], params.get(_KIND, "table")

    def swap(self, identifier: Identifier, expected_location: str, new_location: str) -> None:
        t = self._get(identifier)
        if t is None:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        params = dict(t.get("Parameters", {}))
        if params.get(_METADATA_LOCATION) != expected_location:
            raise CommitFailed(
                f"{identifier}: expected {expected_location}, found {params.get(_METADATA_LOCATION)}"
            )
        params[_METADATA_LOCATION] = new_location
        params["previous_metadata_location"] = expected_location
        try:
            self.client.update_table(
                DatabaseName=".".join(identifier.namespace),
                TableInput={"Name": identifier.name, "Parameters": params},
                VersionId=t["VersionId"],
            )
        except Exception as e:  # noqa: BLE001
            if _error_name(e) == "ConcurrentModificationException":
                # someone committed between our read and the conditioned write
                raise CommitFailed(str(e)) from e
            raise

    def drop(self, identifier: Identifier) -> None:
        self.client.delete_table(DatabaseName=".".join(identifier.namespace), Name=identifier.name)


# -- in-process fake ------------------------------------------------------


class _GlueError(Exception):
    def __init__(self, code: str, msg: str = ""):
        super().__init__(msg or code)
        self.response = {"Error": {"Code": code, "Message": msg}}


class FakeGlueClient:
    """Dict-backed Glue API subset with real VersionId CAS semantics:
    every update bumps the version id; an UpdateTable carrying a stale
    VersionId raises ConcurrentModificationException, exactly the race the
    reference's commit path relies on Glue to detect."""

    def __init__(self):
        self._dbs: dict[str, dict[str, dict]] = {}
        self._db_params: dict[str, dict] = {}
        self._version = itertools.count(1)
        self._lock = threading.Lock()

    def create_database(self, DatabaseInput):
        with self._lock:
            name = DatabaseInput["Name"]
            if name in self._dbs:
                raise _GlueError("AlreadyExistsException", name)
            self._dbs[name] = {}
            self._db_params[name] = dict(DatabaseInput.get("Parameters", {}))
        return {}

    def get_database(self, Name):
        with self._lock:
            if Name not in self._dbs:
                raise _GlueError("EntityNotFoundException", f"database {Name}")
            return {"Database": {"Name": Name, "Parameters": dict(self._db_params.get(Name, {}))}}

    def update_database(self, Name, DatabaseInput):
        with self._lock:
            if Name not in self._dbs:
                raise _GlueError("EntityNotFoundException", f"database {Name}")
            self._db_params[Name] = dict(DatabaseInput.get("Parameters", {}))
        return {}

    def delete_database(self, Name):
        with self._lock:
            if Name not in self._dbs:
                raise _GlueError("EntityNotFoundException", f"database {Name}")
            del self._dbs[Name]
            self._db_params.pop(Name, None)
        return {}

    def get_databases(self):
        with self._lock:
            return {"DatabaseList": [{"Name": n} for n in sorted(self._dbs)]}

    def _db(self, name: str) -> dict:
        if name not in self._dbs:
            raise _GlueError("EntityNotFoundException", f"database {name}")
        return self._dbs[name]

    def create_table(self, DatabaseName, TableInput):
        with self._lock:
            db = self._db(DatabaseName)
            name = TableInput["Name"]
            if name in db:
                raise _GlueError("AlreadyExistsException", name)
            db[name] = {
                "Name": name,
                "Parameters": dict(TableInput.get("Parameters", {})),
                "VersionId": str(next(self._version)),
            }
        return {}

    def get_table(self, DatabaseName, Name):
        with self._lock:
            db = self._db(DatabaseName)
            if Name not in db:
                raise _GlueError("EntityNotFoundException", Name)
            t = db[Name]
            return {"Table": {"Name": t["Name"], "Parameters": dict(t["Parameters"]), "VersionId": t["VersionId"]}}

    def get_tables(self, DatabaseName):
        with self._lock:
            db = self._db(DatabaseName)
            return {"TableList": [{"Name": t["Name"]} for t in db.values()]}

    def update_table(self, DatabaseName, TableInput, VersionId=None):
        with self._lock:
            db = self._db(DatabaseName)
            name = TableInput["Name"]
            if name not in db:
                raise _GlueError("EntityNotFoundException", name)
            t = db[name]
            if VersionId is not None and VersionId != t["VersionId"]:
                raise _GlueError("ConcurrentModificationException", name)
            t["Parameters"] = dict(TableInput.get("Parameters", {}))
            t["VersionId"] = str(next(self._version))
        return {}

    def delete_table(self, DatabaseName, Name):
        with self._lock:
            db = self._db(DatabaseName)
            if Name not in db:
                raise _GlueError("EntityNotFoundException", Name)
            del db[Name]
        return {}
