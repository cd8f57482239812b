"""Object-store abstraction for catalog commits: put-if-absent CAS.

The reference commits through ``object_store``'s ``copy_if_not_exists`` on
any backend (iceberg-file-catalog/src/lib.rs:306-361). The equivalent
primitive here is ``put_if_absent``: whoever creates the next pointer
version first wins; the loser gets ``CommitFailed`` and retries on fresh
metadata. ``ObjectStoreCatalog`` implements the same pointer protocol as
FileCatalog over any ``ObjectStore``, so an S3/GCS backend (conditional PUT
``If-None-Match: *``) is a subclass + config change, not a redesign.

``InMemoryObjectStore`` is the conditional-put test double (S3-semantics:
atomic create-if-absent, last-write-loses on conflict).
"""

from __future__ import annotations

import json
import os
import threading

from iceberg_rust_custom_spark.catalog.base import Catalog, CommitFailed, Identifier


class AlreadyExists(Exception):
    """put_if_absent target already present (conditional PUT failed)."""


class ObjectStore:
    """Minimal store surface a catalog commit needs."""

    def put_if_absent(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def get(self, key: str) -> bytes:
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        raise NotImplementedError

    def delete_prefix(self, prefix: str) -> None:
        raise NotImplementedError


class InMemoryObjectStore(ObjectStore):
    """Conditional-put double with S3 semantics (atomic under a lock)."""

    def __init__(self):
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def put_if_absent(self, key: str, data: bytes) -> None:
        with self._lock:
            if key in self._objects:
                raise AlreadyExists(key)
            self._objects[key] = bytes(data)

    def get(self, key: str) -> bytes:
        return self._objects[key]

    def list(self, prefix: str) -> list[str]:
        return sorted(k for k in self._objects if k.startswith(prefix))

    def delete_prefix(self, prefix: str) -> None:
        with self._lock:
            for k in [k for k in self._objects if k.startswith(prefix)]:
                del self._objects[k]


class LocalFSObjectStore(ObjectStore):
    """Filesystem impl of the same surface (O_EXCL = put-if-absent)."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put_if_absent(self, key: str, data: bytes) -> None:
        # Stage the payload in a private temp file, then publish with
        # os.link: the link either atomically exposes the FULLY-WRITTEN
        # file or fails with FileExistsError. A bare O_CREAT|O_EXCL +
        # write is NOT enough — a concurrent reader can list the pointer
        # between create and write and see an empty object, which is a
        # torn read no real object store exhibits. The temp name starts
        # with "." so no listing counts it as a pointer or property version.
        path = self._path(key)
        head, name = os.path.split(path)
        os.makedirs(head, exist_ok=True)
        tmp = os.path.join(head, f".{name}.tmp.{os.getpid()}.{threading.get_ident()}")
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise AlreadyExists(key) from None
        finally:
            os.unlink(tmp)

    def get(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def list(self, prefix: str) -> list[str]:
        base = self._path(prefix)
        out = []
        for dirpath, _dirs, files in os.walk(os.path.dirname(base) or self.root):
            for fname in files:
                full = os.path.join(dirpath, fname)
                key = os.path.relpath(full, self.root)
                if key.startswith(prefix):
                    out.append(key)
        return sorted(out)

    def delete_prefix(self, prefix: str) -> None:
        for key in self.list(prefix):
            os.remove(self._path(key))


class ObjectStoreCatalog(Catalog):
    """FileCatalog's pointer protocol over any ObjectStore: each commit
    creates ``<ns>/<name>/pointer.v{N}.json`` with put-if-absent; version
    N+1's creator wins the CAS race (lib.rs:306-361 analogue)."""

    def __init__(self, store: ObjectStore, warehouse: str | None = None):
        self.store = store
        self.warehouse = warehouse

    def _prefix(self, identifier: Identifier) -> str:
        return "/".join(("_catalog", *identifier.namespace, identifier.name)) + "/"

    def _ns_prefix(self, namespace: tuple) -> str:
        return "/".join(("_catalog", *namespace)) + "/"

    def create_namespace(self, namespace: tuple, properties: dict | None = None) -> None:
        # namespaces are implicit prefixes on object stores; an explicitly
        # created one gets a (versioned, CAS'd) marker object so it exists
        # even while empty — the properties live in the same object
        try:
            self.store.put_if_absent(
                self._ns_prefix(namespace) + ".nsprops.v0.json",
                json.dumps(properties or {}).encode(),
            )
        except AlreadyExists:
            if properties:
                self.update_namespace(namespace, updates=properties)

    def _ns_prop_versions(self, namespace: tuple) -> list[int]:
        prefix = self._ns_prefix(namespace) + ".nsprops.v"
        return sorted(
            int(k[len(prefix) : -len(".json")])
            for k in self.store.list(prefix)
            if k.endswith(".json")
        )

    def namespace_exists(self, namespace: tuple) -> bool:
        return bool(self.store.list(self._ns_prefix(namespace)))

    def load_namespace(self, namespace: tuple) -> dict:
        versions = self._ns_prop_versions(namespace)
        if versions:
            return json.loads(
                self.store.get(self._ns_prefix(namespace) + f".nsprops.v{versions[-1]}.json")
            )
        if not self.namespace_exists(namespace):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        return {}  # implicit namespace, no properties set yet

    def update_namespace(
        self, namespace: tuple, updates: dict | None = None, removals: list | None = None
    ) -> dict:
        # versioned put-if-absent: same optimistic CAS as pointer commits
        for _ in range(10):
            versions = self._ns_prop_versions(namespace)
            props = self.load_namespace(namespace)
            for k in removals or ():
                props.pop(k, None)
            props.update(updates or {})
            nxt = (versions[-1] + 1) if versions else 0
            try:
                self.store.put_if_absent(
                    self._ns_prefix(namespace) + f".nsprops.v{nxt}.json",
                    json.dumps(props).encode(),
                )
                return props
            except AlreadyExists:
                continue  # concurrent property writer won; re-read and retry
        raise CommitFailed(f"namespace {'.'.join(namespace)}: property CAS kept losing")

    def drop_namespace(self, namespace: tuple) -> None:
        if not self.namespace_exists(namespace):
            raise FileNotFoundError(f"no such namespace: {'.'.join(namespace)}")
        self._ensure_namespace_empty(namespace)
        self.store.delete_prefix(self._ns_prefix(namespace))

    def list_namespaces(self) -> list[tuple]:
        seen = set()
        for key in self.store.list("_catalog/"):
            parts = key.split("/")
            if parts[-1].startswith(".nsprops.v"):
                seen.add(tuple(parts[1:-1]))
            elif len(parts) >= 3:
                seen.add(tuple(parts[1:-2]))
        return sorted(p for p in seen if p)

    def list_tabulars(self, namespace: tuple) -> list[Identifier]:
        prefix = "/".join(("_catalog", *namespace)) + "/"
        names = set()
        for key in self.store.list(prefix):
            rest = key[len(prefix) :].split("/")
            if len(rest) == 2 and rest[1].startswith("pointer.v"):
                names.add(rest[0])
        return [Identifier(namespace, n) for n in sorted(names)]

    def tabular_exists(self, identifier: Identifier) -> bool:
        return bool(self.store.list(self._prefix(identifier) + "pointer.v"))

    def _versions(self, identifier: Identifier) -> list[int]:
        prefix = self._prefix(identifier) + "pointer.v"
        return sorted(
            int(k[len(prefix) : -len(".json")]) for k in self.store.list(prefix) if k.endswith(".json")
        )

    def register(self, identifier: Identifier, metadata_location: str, kind: str = "table") -> None:
        payload = json.dumps({"metadata_location": metadata_location, "kind": kind}).encode()
        try:
            self.store.put_if_absent(self._prefix(identifier) + "pointer.v0.json", payload)
        except AlreadyExists:
            raise CommitFailed(f"{identifier} already exists") from None

    def load(self, identifier: Identifier) -> tuple[str, str]:
        versions = self._versions(identifier)
        if not versions:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        payload = json.loads(self.store.get(self._prefix(identifier) + f"pointer.v{versions[-1]}.json"))
        return payload["metadata_location"], payload.get("kind", "table")

    def swap(self, identifier: Identifier, expected_location: str, new_location: str) -> None:
        versions = self._versions(identifier)
        if not versions:
            raise FileNotFoundError(f"no such tabular: {identifier}")
        current, kind = self.load(identifier)
        if current != expected_location:
            raise CommitFailed(f"{identifier}: expected {expected_location}, found {current}")
        payload = json.dumps({"metadata_location": new_location, "kind": kind}).encode()
        try:
            self.store.put_if_absent(
                self._prefix(identifier) + f"pointer.v{versions[-1] + 1}.json", payload
            )
        except AlreadyExists:
            raise CommitFailed(
                f"{identifier}: concurrent commit won version {versions[-1] + 1}"
            ) from None

    def drop(self, identifier: Identifier) -> None:
        if not self.tabular_exists(identifier):
            raise FileNotFoundError(f"no such tabular: {identifier}")
        self.store.delete_prefix(self._prefix(identifier))


class S3ObjectStore(ObjectStore):
    """Real S3 (or any S3-compatible endpoint): put-if-absent via the
    conditional write header ``If-None-Match: *`` — S3 returns HTTP 412
    PreconditionFailed when the key exists, which is exactly the
    copy_if_not_exists CAS the commit protocol needs (no lock service, no
    DynamoDB table). Construct with a ``boto3.client('s3')`` (pass a
    stubbed/botocore client in tests; region/credentials resolve through
    the standard AWS chain)."""

    def __init__(self, client, bucket: str, prefix: str = ""):
        self.client = client
        self.bucket = bucket
        self.prefix = prefix.strip("/")

    def _key(self, key: str) -> str:
        return f"{self.prefix}/{key}".strip("/")

    def put_if_absent(self, key: str, data: bytes) -> None:
        try:
            self.client.put_object(
                Bucket=self.bucket, Key=self._key(key), Body=data, IfNoneMatch="*"
            )
        except Exception as e:  # noqa: BLE001 - classified by code below
            resp = getattr(e, "response", None) or {}
            code = resp.get("Error", {}).get("Code", type(e).__name__)
            status = resp.get("ResponseMetadata", {}).get("HTTPStatusCode")
            if code in ("PreconditionFailed", "ConditionalRequestConflict") or status == 412:
                raise AlreadyExists(key) from e
            raise

    def get(self, key: str) -> bytes:
        try:
            return self.client.get_object(Bucket=self.bucket, Key=self._key(key))[
                "Body"
            ].read()
        except Exception as e:  # noqa: BLE001
            code = (getattr(e, "response", None) or {}).get("Error", {}).get("Code")
            if code in ("NoSuchKey", "404"):
                raise KeyError(key) from e
            raise

    def list(self, prefix: str) -> list[str]:
        out: list[str] = []
        paginator = self.client.get_paginator("list_objects_v2")
        strip = (self.prefix + "/") if self.prefix else ""
        for page in paginator.paginate(Bucket=self.bucket, Prefix=self._key(prefix)):
            for obj in page.get("Contents", []) or []:
                k = obj["Key"]
                out.append(k[len(strip):] if strip and k.startswith(strip) else k)
        return sorted(out)

    def delete_prefix(self, prefix: str) -> None:
        keys = [{"Key": self._key(k)} for k in self.list(prefix)]
        for i in range(0, len(keys), 1000):  # S3 delete_objects batch limit
            self.client.delete_objects(
                Bucket=self.bucket, Delete={"Objects": keys[i : i + 1000]}
            )
