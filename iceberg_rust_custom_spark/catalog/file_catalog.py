"""File-based catalog with put-if-absent CAS.

Mirrors the reference's file catalog (iceberg-file-catalog/src/lib.rs:306-361):
each tabular's commits advance a ``pointer.v{N}.json`` file published
put-if-absent (``LocalFSObjectStore.put_if_absent``: a staged temp file
hard-linked to its name, so a reader never sees a partly written pointer).
Whoever creates version N+1 first wins; the loser gets CommitFailed and
must retry on fresh metadata. On object stores the
same protocol maps to conditional PUT (if-none-match), as the reference's
``copy_if_not_exists`` does.
"""

from __future__ import annotations

import json
import os

from iceberg_rust_custom_spark.catalog.base import Catalog, CommitFailed, Identifier
from iceberg_rust_custom_spark.catalog.object_store import AlreadyExists, LocalFSObjectStore


class FileCatalog(Catalog):
    def __init__(self, warehouse: str):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)
        self._store = LocalFSObjectStore(self.warehouse)

    def _publish(self, path: str, payload: dict) -> None:
        """Put-if-absent ``payload`` at ``path``; AlreadyExists when taken."""
        key = os.path.relpath(path, self.warehouse)
        self._store.put_if_absent(key, json.dumps(payload).encode())

    # registry entry directory for an identifier
    def _entry_dir(self, identifier: Identifier) -> str:
        return os.path.join(self.warehouse, "_catalog", *identifier.namespace, identifier.name)

    def _ns_dir(self, namespace: tuple) -> str:
        return os.path.join(self.warehouse, "_catalog", *namespace)

    def create_namespace(self, namespace: tuple, properties: dict | None = None) -> None:
        os.makedirs(self._ns_dir(namespace), exist_ok=True)
        if properties:
            self.update_namespace(namespace, updates=properties)

    def namespace_exists(self, namespace: tuple) -> bool:
        return os.path.isdir(self._ns_dir(namespace))

    def _ns_prop_versions(self, namespace: tuple) -> list[int]:
        d = self._ns_dir(namespace)
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[len(".nsprops.v") : -len(".json")])
            for n in names
            if n.startswith(".nsprops.v") and n.endswith(".json")
        )

    def load_namespace(self, namespace: tuple) -> dict:
        d = self._ns_dir(namespace)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        versions = self._ns_prop_versions(namespace)
        if not versions:
            return {}
        with open(os.path.join(d, f".nsprops.v{versions[-1]}.json")) as f:
            return json.load(f)

    def update_namespace(
        self, namespace: tuple, updates: dict | None = None, removals: list | None = None
    ) -> dict:
        """Versioned put-if-absent property files — the same pointer
        protocol the table commits use, so two concurrent writers never
        silently lose one side's updates (ADVICE r6): the loser's publish
        fails, it re-reads and retries on the merged state."""
        for _ in range(16):
            versions = self._ns_prop_versions(namespace)
            props = self.load_namespace(namespace)
            for k in removals or ():
                props.pop(k, None)
            props.update(updates or {})
            nxt = (versions[-1] + 1) if versions else 0
            try:
                self._publish(os.path.join(self._ns_dir(namespace), f".nsprops.v{nxt}.json"), props)
            except AlreadyExists:
                continue  # lost the race; retry on the winner's state
            return props
        raise CommitFailed(f"namespace {'.'.join(namespace)}: property CAS kept losing")

    def drop_namespace(self, namespace: tuple) -> None:
        import shutil

        d = self._ns_dir(namespace)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        self._ensure_namespace_empty(namespace)
        shutil.rmtree(d)

    def list_namespaces(self) -> list[tuple]:
        root = os.path.join(self.warehouse, "_catalog")
        if not os.path.isdir(root):
            return []
        out = []
        for dirpath, dirnames, filenames in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            if rel == ".":
                continue
            if not any(f.startswith("pointer.v") for f in filenames):
                out.append(tuple(rel.split(os.sep)))
        return out

    def list_tabulars(self, namespace: tuple) -> list[Identifier]:
        ns_dir = os.path.join(self.warehouse, "_catalog", *namespace)
        if not os.path.isdir(ns_dir):
            return []
        out = []
        for name in sorted(os.listdir(ns_dir)):
            d = os.path.join(ns_dir, name)
            if os.path.isdir(d) and any(f.startswith("pointer.v") for f in os.listdir(d)):
                out.append(Identifier(namespace, name))
        return out

    def tabular_exists(self, identifier: Identifier) -> bool:
        d = self._entry_dir(identifier)
        return os.path.isdir(d) and any(f.startswith("pointer.v") for f in os.listdir(d))

    def _versions(self, identifier: Identifier) -> list[int]:
        d = self._entry_dir(identifier)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[len("pointer.v") : -len(".json")])
            for f in os.listdir(d)
            if f.startswith("pointer.v") and f.endswith(".json")
        )

    def register(self, identifier: Identifier, metadata_location: str, kind: str = "table") -> None:
        if self.tabular_exists(identifier):
            raise CommitFailed(f"{identifier} already exists")
        try:
            self._publish(
                os.path.join(self._entry_dir(identifier), "pointer.v0.json"),
                {"metadata_location": metadata_location, "kind": kind},
            )
        except AlreadyExists:
            raise CommitFailed(f"{identifier} already exists") from None

    def load(self, identifier: Identifier) -> tuple[str, str]:
        versions = self._versions(identifier)
        if not versions:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        with open(os.path.join(self._entry_dir(identifier), f"pointer.v{versions[-1]}.json")) as f:
            payload = json.load(f)
        return payload["metadata_location"], payload.get("kind", "table")

    def swap(self, identifier: Identifier, expected_location: str, new_location: str) -> None:
        versions = self._versions(identifier)
        if not versions:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        current, kind = self.load(identifier)
        if current != expected_location:
            raise CommitFailed(f"{identifier}: expected {expected_location}, found {current}")
        try:
            self._publish(
                os.path.join(self._entry_dir(identifier), f"pointer.v{versions[-1] + 1}.json"),
                {"metadata_location": new_location, "kind": kind},
            )
        except AlreadyExists:
            raise CommitFailed(f"{identifier}: concurrent commit won version {versions[-1] + 1}") from None

    def drop(self, identifier: Identifier) -> None:
        import shutil

        d = self._entry_dir(identifier)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no such tabular: {identifier}")
        shutil.rmtree(d)
