"""Iceberg REST catalog protocol (the public spec's resource shapes) —
HTTP client + in-process service.

The reference ships a production client generated from the official
OpenAPI document (iceberg-rest-catalog/, 3,195 LoC). This module speaks the
same protocol over stdlib HTTP for the routes an engine needs:

* ``GET  /v1/config``                                    → CatalogConfig
* ``GET/POST /v1/namespaces``                            → list / create
  (list endpoints speak the spec's ``pageSize``/``pageToken`` pagination,
  emitting ``next-page-token`` until drained)
* ``GET/HEAD /v1/namespaces/{ns}``                       → namespace
  exists / properties (404 + spec ErrorModel otherwise)
* ``GET  /v1/namespaces/{ns}/tables``                    → list tables
* ``POST /v1/namespaces/{ns}/register``                  → register existing
  table by metadata-location (RegisterTableRequest)
* ``GET/HEAD /v1/namespaces/{ns}/tables/{t}``            → LoadTableResult
  {metadata-location, metadata}
* ``POST /v1/namespaces/{ns}/tables/{t}``                → CommitTableRequest
  {requirements, updates} — applied SERVER-side with the same
  check_requirements / apply_updates engine the local commit path uses,
  returning 409 on a failed requirement (optimistic concurrency)
* ``DELETE /v1/namespaces/{ns}/tables/{t}``
* ``POST /v1/namespaces/{ns}/tables/{t}/metrics``       → ReportMetricsRequest
  (scan-report counters; 204, stored service-side for the operator)

Namespaces are encoded in URLs with the spec's unit separator ("%1F"
joining levels). Metadata documents live in the warehouse (shared storage,
as with a real REST catalog over an object store); the service returns
``metadata-location`` and clients read the JSON from storage.

The COMMIT is a first-class protocol operation the server validates, as
the Iceberg REST spec defines it — so `Transaction.commit` routes through
``commit_updates`` instead of write-file-then-swap.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request
import uuid as _uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from iceberg_rust_custom_spark.catalog.base import (
    Catalog,
    CommitFailed,
    Identifier,
    NamespaceNotEmpty,
)
from iceberg_rust_custom_spark.metadata.table_metadata import CommitConflict, TableMetadata

NS_SEP = "\x1f"  # the spec's multipart namespace separator (%1F)


def _ns_encode(namespace: tuple) -> str:
    return urllib.parse.quote(NS_SEP.join(namespace), safe="")


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class IcebergRestCatalog(Catalog):
    """Catalog client speaking the Iceberg REST protocol. Commits are
    delegated to the service via ``commit_updates`` (CommitTableRequest);
    ``swap`` is intentionally unsupported — the protocol has no pointer-CAS
    operation, commits carry requirements instead."""

    def __init__(self, uri: str, warehouse: str | None = None, timeout: float = 10.0):
        self.uri = uri.rstrip("/")
        self.timeout = timeout
        cfg = self._call("GET", "/v1/config")
        self.warehouse = warehouse or cfg.get("defaults", {}).get("warehouse")

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        req = urllib.request.Request(
            self.uri + path,
            data=json.dumps(body).encode() if body is not None else None,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                data = resp.read()
                return json.loads(data) if data else {}
        except urllib.error.HTTPError as e:
            payload = e.read().decode() or "{}"
            try:
                msg = json.loads(payload).get("error", {}).get("message", payload)
            except json.JSONDecodeError:
                msg = payload
            if e.code == 409:
                raise CommitFailed(msg) from None
            if e.code == 404:
                raise FileNotFoundError(msg) from None
            raise RuntimeError(f"HTTP {e.code}: {msg}") from None

    def create_namespace(self, namespace: tuple, properties: dict | None = None) -> None:
        self._call(
            "POST",
            "/v1/namespaces",
            {"namespace": list(namespace), "properties": properties or {}},
        )

    def load_namespace(self, namespace: tuple) -> dict:
        """GetNamespaceResponse.properties (spec: GET /v1/namespaces/{ns})."""
        out = self._call("GET", f"/v1/namespaces/{_ns_encode(namespace)}")
        return out.get("properties", {})

    def update_namespace(
        self, namespace: tuple, updates: dict | None = None, removals: list | None = None
    ) -> dict:
        """Spec UpdateNamespacePropertiesRequest {removals, updates} —
        removals apply before updates, server-side. The spec response lists
        {updated, removed, missing} keys; the Catalog interface returns the
        resulting map, so re-read it."""
        self._call(
            "POST",
            f"/v1/namespaces/{_ns_encode(namespace)}/properties",
            {"removals": list(removals or []), "updates": updates or {}},
        )
        return self.load_namespace(namespace)

    def drop_namespace(self, namespace: tuple) -> None:
        """DELETE /v1/namespaces/{ns} — 409 NamespaceNotEmptyException when
        tables or child namespaces remain (never cascades)."""
        try:
            self._call("DELETE", f"/v1/namespaces/{_ns_encode(namespace)}")
        except CommitFailed as e:
            raise NamespaceNotEmpty(str(e)) from None

    def namespace_exists(self, namespace: tuple) -> bool:
        """HEAD existence probe (spec: HEAD /v1/namespaces/{ns} → 204/404)."""
        try:
            self._call("HEAD", f"/v1/namespaces/{_ns_encode(namespace)}")
            return True
        except FileNotFoundError:
            return False

    def _paged(self, path: str, key: str, page_size: int | None) -> list:
        """Drain a paginated list endpoint (spec: opaque ``pageToken`` in
        the request, ``next-page-token`` in the response until exhausted)."""
        out, token = [], None
        while True:
            q = []
            if page_size is not None:
                q.append(f"pageSize={page_size}")
            if token is not None:
                q.append(f"pageToken={urllib.parse.quote(token, safe='')}")
            resp = self._call("GET", path + ("?" + "&".join(q) if q else ""))
            out.extend(resp.get(key, []))
            token = resp.get("next-page-token")
            if not token:
                return out

    def list_namespaces(self, page_size: int | None = None) -> list[tuple]:
        return [tuple(ns) for ns in self._paged("/v1/namespaces", "namespaces", page_size)]

    def list_tabulars(self, namespace: tuple, page_size: int | None = None) -> list[Identifier]:
        rows = self._paged(
            f"/v1/namespaces/{_ns_encode(namespace)}/tables", "identifiers", page_size
        )
        return [Identifier(tuple(t["namespace"]), t["name"]) for t in rows]

    def tabular_exists(self, identifier: Identifier) -> bool:
        try:
            # HEAD: existence probe without shipping the metadata document
            self._call("HEAD", self._table_path(identifier))
            return True
        except FileNotFoundError:
            return False

    def _table_path(self, identifier: Identifier) -> str:
        return f"/v1/namespaces/{_ns_encode(identifier.namespace)}/tables/{urllib.parse.quote(identifier.name, safe='')}"

    def register(self, identifier: Identifier, metadata_location: str, kind: str = "table") -> None:
        self._call(
            "POST",
            f"/v1/namespaces/{_ns_encode(identifier.namespace)}/register",
            {"name": identifier.name, "metadata-location": metadata_location, "kind": kind},
        )

    def load(self, identifier: Identifier) -> tuple[str, str]:
        out = self._call("GET", self._table_path(identifier))
        return out["metadata-location"], out.get("kind", "table")

    def swap(self, identifier: Identifier, expected_location: str, new_location: str) -> None:
        """TABLE commits go through commit_updates (the protocol has no
        table pointer CAS). VIEW updates, which the engine performs as
        write-file-then-swap, route to the view-commit route — the server
        CASes the metadata location under its lock (409 on conflict), the
        spec's server-side view commit shape."""
        _, kind = self.load(identifier)
        if kind not in ("view", "materialized-view"):
            raise NotImplementedError(
                "the Iceberg REST protocol has no table pointer CAS; commits go through commit_updates"
            )
        self._call(
            "POST",
            f"/v1/namespaces/{_ns_encode(identifier.namespace)}/views/{urllib.parse.quote(identifier.name, safe='')}",
            {
                "expected-metadata-location": expected_location,
                "metadata-location": new_location,
            },
        )

    def commit_updates(self, identifier: Identifier, requirements: list, updates: list):
        out = self._call(
            "POST",
            self._table_path(identifier),
            {
                "identifier": {"namespace": list(identifier.namespace), "name": identifier.name},
                "requirements": requirements,
                "updates": updates,
            },
        )
        return TableMetadata.from_dict(out["metadata"])

    def drop(self, identifier: Identifier) -> None:
        self._call("DELETE", self._table_path(identifier))

    def rename(self, src: Identifier, dst: Identifier) -> None:
        """Atomic server-side rename (spec: POST /v1/tables/rename) —
        unlike the base register-then-drop fallback, the registry move is
        one operation under the service lock."""
        self._call(
            "POST",
            "/v1/tables/rename",
            {
                "source": {"namespace": list(src.namespace), "name": src.name},
                "destination": {"namespace": list(dst.namespace), "name": dst.name},
            },
        )

    def report_metrics(self, identifier: Identifier, report: dict) -> None:
        """POST scan metrics to the service (spec: ReportMetricsRequest on
        /tables/{t}/metrics). Fire-and-forget observability — the engine's
        scan_report counters (manifests pruned, files planned, bytes)
        become visible to the catalog operator."""
        self._call(
            "POST",
            self._table_path(identifier) + "/metrics",
            {"report-type": "scan-report", "metrics": report},
        )


# ---------------------------------------------------------------------------
# service
# ---------------------------------------------------------------------------


class IcebergRestCatalogServer:
    """In-process catalog service implementing the protocol above. Metadata
    documents are JSON files under the warehouse (the object-store role);
    the service holds the authoritative name → metadata-location mapping
    and applies commits atomically under a per-table lock."""

    def __init__(self, warehouse: str, host: str = "127.0.0.1", port: int = 0):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)
        self._tables: dict[tuple, dict] = {}  # (ns..., name) -> {location, kind}
        self._namespaces: set[tuple] = set()
        self._ns_props: dict[tuple, dict] = {}
        self._metrics: dict[tuple, list] = {}  # (ns..., name) -> [ReportMetricsRequest]
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _send(self, code: int, payload: dict | None = None):
                body = json.dumps(payload or {}).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(body)

            def _err(self, code: int, message: str, err_type: str | None = None):
                # spec ErrorModel: {"error": {"message", "type", "code"}}
                types = {404: "NoSuchTableException", 409: "CommitFailedException"}
                self._send(
                    code,
                    {
                        "error": {
                            "message": message,
                            "type": err_type or types.get(code, "InternalServerError"),
                            "code": code,
                        }
                    },
                )

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                return json.loads(self.rfile.read(n)) if n else {}

            def _route(self):
                split = urllib.parse.urlsplit(self.path)
                parts = [urllib.parse.unquote(p) for p in split.path.split("/") if p]
                self.query = {
                    k: v[0] for k, v in urllib.parse.parse_qs(split.query).items()
                }
                try:
                    server._dispatch(self, parts)
                except CommitFailed as e:
                    self._err(409, str(e))
                except FileNotFoundError as e:
                    self._err(404, str(e))
                except Exception as e:  # pragma: no cover - defensive
                    self._err(500, f"{type(e).__name__}: {e}")

            do_GET = do_POST = do_DELETE = do_HEAD = _route

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def uri(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def close(self) -> None:
        self._httpd.shutdown()

    # ------------------------------------------------------------- dispatch
    @staticmethod
    def _page(h, items: list, key: str, to_json) -> None:
        """Apply ``pageSize``/``pageToken`` (opaque integer-offset token) to
        a deterministic sorted listing; emit ``next-page-token`` while more
        remain (spec pagination contract)."""
        size = h.query.get("pageSize")
        token = h.query.get("pageToken")
        start = 0
        if token is not None:
            try:
                start = max(0, int(token))
            except ValueError:
                start = 0
        if size is None:
            page, nxt = items[start:], None
        else:
            n = max(1, int(size))
            page = items[start : start + n]
            nxt = str(start + n) if start + n < len(items) else None
        payload = {key: [to_json(x) for x in page]}
        if nxt is not None:
            payload["next-page-token"] = nxt
        h._send(200, payload)

    def _dispatch(self, h, parts: list[str]) -> None:
        method = h.command
        if parts == ["v1", "config"]:
            h._send(200, {"defaults": {"warehouse": self.warehouse}, "overrides": {}})
            return
        if parts == ["v1", "tables", "rename"] and method == "POST":
            body = h._body()
            src = (*body["source"]["namespace"], body["source"]["name"])
            dst = (*body["destination"]["namespace"], body["destination"]["name"])
            with self._lock:
                if src not in self._tables:
                    raise FileNotFoundError(f"no such table: {'.'.join(src)}")
                if dst in self._tables:
                    raise CommitFailed(f"{'.'.join(dst)} already exists")
                self._namespaces.add(dst[:-1])
                self._tables[dst] = self._tables.pop(src)
            h._send(204)
            return
        if parts == ["v1", "namespaces"]:
            if method == "POST":
                body = h._body()
                ns = tuple(body["namespace"])
                props = dict(body.get("properties") or {})
                with self._lock:
                    if ns in self._namespaces and props:
                        self._ns_props.setdefault(ns, {}).update(props)
                    else:
                        self._namespaces.add(ns)
                        if props:
                            self._ns_props[ns] = props
                    out = dict(self._ns_props.get(ns, {}))
                h._send(200, {"namespace": list(ns), "properties": out})
            else:
                with self._lock:
                    all_ns = sorted(self._namespaces)
                self._page(h, all_ns, "namespaces", list)
            return
        if len(parts) >= 3 and parts[:2] == ["v1", "namespaces"]:
            ns = tuple(parts[2].split(NS_SEP))
            rest = parts[3:]
            if not rest and method in ("GET", "HEAD"):
                # namespace-exists probe / namespace properties
                with self._lock:
                    known = ns in self._namespaces or any(
                        k[: len(ns)] == ns for k in self._tables
                    )
                    props = dict(self._ns_props.get(ns, {}))
                if not known:
                    raise FileNotFoundError(f"no such namespace: {'.'.join(ns)}")
                h._send(200, {"namespace": list(ns), "properties": props})
                return
            if not rest and method == "DELETE":
                # spec: 409 NamespaceNotEmptyException when tabulars or
                # child namespaces remain; 404 for an unknown namespace
                with self._lock:
                    if ns not in self._namespaces:
                        raise FileNotFoundError(f"no such namespace: {'.'.join(ns)}")
                    if any(k[: len(ns)] == ns for k in self._tables) or any(
                        n != ns and n[: len(ns)] == ns for n in self._namespaces
                    ):
                        h._err(
                            409,
                            f"namespace {'.'.join(ns)} is not empty",
                            "NamespaceNotEmptyException",
                        )
                        return
                    self._namespaces.discard(ns)
                    self._ns_props.pop(ns, None)
                h._send(204)
                return
            if rest == ["properties"] and method == "POST":
                # spec UpdateNamespacePropertiesRequest {removals, updates};
                # removals apply before updates, response lists the outcome
                body = h._body()
                with self._lock:
                    if ns not in self._namespaces:
                        raise FileNotFoundError(f"no such namespace: {'.'.join(ns)}")
                    props = self._ns_props.setdefault(ns, {})
                    removed, missing = [], []
                    for k in body.get("removals") or []:
                        (removed if k in props else missing).append(k)
                        props.pop(k, None)
                    updates = body.get("updates") or {}
                    props.update(updates)
                h._send(
                    200,
                    {"updated": sorted(updates), "removed": removed, "missing": missing},
                )
                return
            if rest == ["register"] and method == "POST":
                body = h._body()
                key = (*ns, body["name"])
                with self._lock:
                    if key in self._tables:
                        raise CommitFailed(f"{'.'.join(key)} already exists")
                    self._namespaces.add(ns)
                    self._tables[key] = {
                        "location": body["metadata-location"],
                        "kind": body.get("kind", "table"),
                    }
                h._send(200, {"metadata-location": body["metadata-location"]})
                return
            if rest == ["tables"] and method == "GET":
                with self._lock:
                    keys = [k for k in sorted(self._tables) if k[:-1] == ns]
                self._page(
                    h,
                    keys,
                    "identifiers",
                    lambda k: {"namespace": list(k[:-1]), "name": k[-1]},
                )
                return
            if len(rest) == 2 and rest[0] == "views" and method == "POST":
                # view-commit: CAS the metadata location under the lock
                key = (*ns, rest[1])
                body = h._body()
                with self._lock:
                    entry = self._tables.get(key)
                    if entry is None or entry.get("kind") not in ("view", "materialized-view"):
                        raise FileNotFoundError(f"no such view: {'.'.join(key)}")
                    if entry["location"] != body.get("expected-metadata-location"):
                        raise CommitFailed(
                            f"view {'.'.join(key)} moved: expected "
                            f"{body.get('expected-metadata-location')}, is {entry['location']}"
                        )
                    entry["location"] = body["metadata-location"]
                h._send(200, {"metadata-location": body["metadata-location"]})
                return
            if len(rest) == 3 and rest[0] == "tables" and rest[2] == "metrics" and method == "POST":
                key = (*ns, rest[1])
                with self._lock:
                    if key not in self._tables:
                        raise FileNotFoundError(f"no such table: {'.'.join(key)}")
                    self._metrics.setdefault(key, []).append(h._body())
                h._send(204)
                return
            if len(rest) == 2 and rest[0] == "tables":
                key = (*ns, rest[1])
                if method in ("GET", "HEAD"):
                    with self._lock:
                        entry = self._tables.get(key)
                    if entry is None:
                        raise FileNotFoundError(f"no such table: {'.'.join(key)}")
                    payload = {"metadata-location": entry["location"], "kind": entry["kind"]}
                    if method == "GET":
                        with open(entry["location"]) as f:
                            payload["metadata"] = json.load(f)
                    h._send(200, payload)
                    return
                if method == "DELETE":
                    with self._lock:
                        if key not in self._tables:
                            raise FileNotFoundError(f"no such table: {'.'.join(key)}")
                        del self._tables[key]
                    h._send(204)
                    return
                if method == "POST":  # CommitTableRequest
                    body = h._body()
                    h._send(200, self._commit(key, body["requirements"], body["updates"]))
                    return
        raise FileNotFoundError(f"no route: {h.command} {'/'.join(parts)}")

    def _commit(self, key: tuple, requirements: list, updates: list) -> dict:
        with self._lock:
            entry = self._tables.get(key)
            if entry is None:
                raise FileNotFoundError(f"no such table: {'.'.join(key)}")
            with open(entry["location"]) as f:
                current = TableMetadata.from_json(f.read())
            try:
                current.check_requirements(requirements)
            except CommitConflict as e:
                raise CommitFailed(str(e)) from None
            new_metadata = current.apply_updates(updates)
            meta_dir = os.path.join(new_metadata.location, "metadata")
            os.makedirs(meta_dir, exist_ok=True)
            new_path = os.path.join(meta_dir, f"v{_uuid.uuid4().hex[:12]}.metadata.json")
            with open(new_path, "w") as f:
                f.write(new_metadata.to_json())
            entry["location"] = new_path
        return {"metadata-location": new_path, "metadata": new_metadata.to_dict()}
