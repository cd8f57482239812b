"""Per-layer tracing for the benchmark, from outside the engine.

``Tracer.install`` wraps public functions of each engine layer (module
functions, methods and ``FileIO`` classmethods) and accumulates seconds and
counts per layer. A function imported by name into several modules is
re-bound in every one of them, so no caller keeps an unwrapped copy.
Spark jobs are attributed with job groups and ``statusTracker()``, which
work with the UI disabled: every span that counts jobs runs under a group
of its own, and a span's job count includes its children's.

Reporting convention (``metrics()``): names ending in ``_s``, ``_jobs``
and ``spark.tasks`` are means per call of that layer; the other counts are
run totals; ``*_per_*`` and ``*_ratio`` are ratios.
"""

from __future__ import annotations

import functools
import importlib
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "iceberg_rust_custom_spark"

#: corpus_dedup operators, by headline query name
CORPUS_OPS = (
    "exact_dedup",
    "minhash_lsh_pairs",
    "fuzzy_dedup_clusters",
    "exact_substring_spans",
    "ngram_lm_quality",
    "semantic_dedup",
)

#: (name, better) of every per-layer metric, in report order
PER_LAYER = [
    ("metadata.plan_files_s", "lower"),
    ("metadata.plan_files_calls", "lower"),
    ("metadata.manifest_reads", "lower"),
    ("metadata.manifest_read_s", "lower"),
    ("metadata.manifest_list_read_s", "lower"),
    ("metadata.files_scanned_per_planned", "lower"),
    ("table.scan.construct_s", "lower"),
    ("table.scan.construct_jobs", "lower"),
    ("spark.execute_s", "lower"),
    ("spark.execute_jobs", "lower"),
    ("spark.tasks", "lower"),
    ("table.write.write_s", "lower"),
    ("table.write.files_written", "lower"),
    ("table.write.bytes_written", "lower"),
    ("table.transaction.commit_s", "lower"),
    ("table.transaction.commits", "lower"),
    ("table.transaction.cas_attempts_per_commit", "lower"),
    ("table.maintenance.delete_s", "lower"),
    ("table.maintenance.update_s", "lower"),
    ("table.maintenance.merge_s", "lower"),
    ("io.read_calls", "lower"),
    ("io.read_bytes", "lower"),
    ("io.write_calls", "lower"),
    ("io.write_bytes", "lower"),
    ("views.refresh_s", "lower"),
    ("views.freshness_s", "lower"),
    ("views.incremental_ratio", "higher"),
    *[
        (f"operators.{op}.{k}", "lower")
        for op in CORPUS_OPS
        for k in ("construct_s", "construct_jobs", "execute_s")
    ],
    ("operators.materialize_if_small_calls", "lower"),
    ("operators.materialize_if_small_s", "lower"),
]


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if "_per_" in name or name.endswith("_ratio"):
        return "ratio"
    return "count"


#: per-layer metrics each workload must drive above zero in a traced run
LAYERS_USED = {
    "lake_ingest": [
        "metadata.plan_files_s",
        "metadata.plan_files_calls",
        "metadata.manifest_reads",
        "metadata.manifest_read_s",
        "metadata.manifest_list_read_s",
        "metadata.files_scanned_per_planned",
        "table.scan.construct_s",
        "table.scan.construct_jobs",
        "spark.execute_s",
        "spark.execute_jobs",
        "spark.tasks",
        "table.write.write_s",
        "table.write.files_written",
        "table.write.bytes_written",
        "table.transaction.commit_s",
        "table.transaction.commits",
        "table.transaction.cas_attempts_per_commit",
        "table.maintenance.delete_s",
        "table.maintenance.update_s",
        "table.maintenance.merge_s",
        "io.read_calls",
        "io.read_bytes",
        "io.write_calls",
        "io.write_bytes",
        "views.refresh_s",
        "views.freshness_s",
        "views.incremental_ratio",
    ],
    "corpus_dedup": [
        "spark.execute_s",
        "spark.execute_jobs",
        "spark.tasks",
        *[f"operators.{op}.{k}" for op in CORPUS_OPS for k in ("construct_s", "construct_jobs", "execute_s")],
        "operators.materialize_if_small_calls",
        "operators.materialize_if_small_s",
    ],
}

_IO_READS = ("read_bytes", "read_range", "read_text", "pq_read_table", "pq_parquet_file")
_IO_WRITES = ("write_bytes", "write_text", "pq_write_table")
_MAINTENANCE = {"delete_where": "delete", "update_where": "update", "merge_upsert": "merge"}


def _import_package() -> None:
    """Import every engine module, so every by-name binding of a wrapped
    function exists before patching (later imports bind the wrapper)."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        try:
            importlib.import_module(info.name)
        except ImportError:
            pass  # optional backend (cloud SDK) not installed: nothing to wrap


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self.sums: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []
        self._groups: list[tuple[str, list]] = []  # open job-counting spans
        self._seq = 0
        self._local = threading.local()  # per-thread nesting depths
        self._last_commit = None

    # ----------------------------------------------------------------- spans
    @contextmanager
    def span(self, key: str, jobs: bool = False, tasks: bool = False):
        """Add the block's seconds to ``key`` (and one call); with ``jobs``,
        run it under a job group of its own and add the Spark jobs it
        started, children included, to ``key_jobs``."""
        t0 = time.perf_counter()
        if not jobs or threading.current_thread() is not threading.main_thread():
            # job groups are per thread: spans on engine worker threads only time
            try:
                yield
            finally:
                self._add(key, time.perf_counter() - t0)
            return
        self._seq += 1
        gid = f"perfbench-{os.getpid()}-{self._seq}"
        children: list = []
        self._groups.append((gid, children))
        self._sc.setLocalProperty("spark.jobGroup.id", gid)
        try:
            yield
        finally:
            self._groups.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", self._groups[-1][0] if self._groups else None)
            job_ids = list(self._tracker.getJobIdsForGroup(gid)) + children
            if self._groups:
                self._groups[-1][1].extend(job_ids)
            self._add(key, time.perf_counter() - t0)
            self.sums[key + "_jobs"] += len(job_ids)
            if tasks:
                self.sums["spark.tasks"] += self._tasks(job_ids)

    def _tasks(self, job_ids) -> int:
        n = 0
        for jid in job_ids:
            job = self._tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = self._tracker.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def _depth(self, name: str, step: int = 0) -> int:
        depth = getattr(self._local, name, 0) + step
        setattr(self._local, name, depth)
        return depth

    def _add(self, key: str, seconds: float) -> None:
        self.sums[key] += seconds
        self.calls[key] += 1

    # -------------------------------------------------------------- patching
    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def wrap_function(self, module: str, name: str, make) -> int:
        """Replace ``module.name`` by ``make(original)`` in every engine
        module that binds it; return the number of bindings replaced."""
        orig = getattr(importlib.import_module(module), name)
        wrapped = make(orig)
        n = 0
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._set(mod, attr, wrapped)
                    n += 1
        return n

    def wrap_method(self, cls, name: str, make) -> None:
        raw = cls.__dict__[name]
        if isinstance(raw, classmethod):
            self._set(cls, name, classmethod(make(raw.__func__)))
        else:
            self._set(cls, name, make(raw))

    def _timed(self, key: str, jobs: bool = False, after=None):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(key, jobs=jobs):
                    out = fn(*args, **kwargs)
                if after is not None:
                    after(out, args, kwargs)
                return out

            return wrapper

        return make

    def install(self) -> "Tracer":
        _import_package()
        from iceberg_rust_custom_spark.catalog.base import Catalog
        from iceberg_rust_custom_spark.engine import Engine
        from iceberg_rust_custom_spark.io.fileio import FileIO
        from iceberg_rust_custom_spark.table.transaction import Transaction

        # metadata: planning and manifest reads
        def plan_make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                self._depth("plan", 1)
                try:
                    with self.span("metadata.plan_files"):
                        out = fn(*args, **kwargs)
                finally:
                    self._depth("plan", -1)
                self.sums["metadata.files_planned"] += len(out)
                return out

            return wrapper

        scan_mod = "iceberg_rust_custom_spark.table.scan"
        man_mod = "iceberg_rust_custom_spark.metadata.manifest"
        self.wrap_function(scan_mod, "plan_files", plan_make)

        def manifest_entries(out, args, kwargs):
            if self._depth("plan"):
                self.sums["metadata.entries_scanned"] += len(out)

        self.wrap_function(man_mod, "read_manifest", self._timed("metadata.manifest_read", after=manifest_entries))
        self.wrap_function(man_mod, "read_manifest_list", self._timed("metadata.manifest_list_read"))

        # table.scan: DataFrame construction (listing jobs run here)
        self.wrap_function(scan_mod, "scan_to_dataframe", self._timed("table.scan.construct", jobs=True))

        # table.write
        def written(out, args, kwargs):
            self.sums["table.write.files_written"] += len(out)
            self.sums["table.write.bytes_written"] += sum(f.file_size_in_bytes for f in out)

        self.wrap_function(
            "iceberg_rust_custom_spark.table.write", "write_partitioned",
            self._timed("table.write.write", after=written),
        )

        # table.transaction: commits and catalog compare-and-swap attempts
        def committed(out, args, kwargs):
            self._last_commit = time.perf_counter()

        self.wrap_method(Transaction, "commit", self._timed("table.transaction.commit", after=committed))

        def cas(fn, counts_if_applied: bool):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                out = fn(*args, **kwargs)
                # pointer catalogs return None from commit_updates and CAS
                # through swap; only an applied commit_updates is an attempt
                if not counts_if_applied or out is not None:
                    self.sums["table.transaction.cas_attempts"] += 1
                return out

            return wrapper

        pending = [Catalog]
        while pending:
            cls = pending.pop()
            pending.extend(cls.__subclasses__())
            if "swap" in cls.__dict__:
                self.wrap_method(cls, "swap", lambda fn: cas(fn, False))
            if "commit_updates" in cls.__dict__:
                self.wrap_method(cls, "commit_updates", lambda fn: cas(fn, True))

        # table.maintenance: MoR row-level operations
        for fname, short in _MAINTENANCE.items():
            self.wrap_function(
                "iceberg_rust_custom_spark.table.maintenance", fname,
                self._timed(f"table.maintenance.{short}", jobs=True),
            )

        # io: outermost FileIO calls only (read_text calls read_bytes)
        orig_size = FileIO.__dict__["size"].__func__

        def io_make(kind: str, name: str):
            def make(fn):
                @functools.wraps(fn)
                def wrapper(cls, *args, **kwargs):
                    self._depth("io", 1)
                    try:
                        out = fn(cls, *args, **kwargs)
                    finally:
                        outermost = self._depth("io", -1) == 0
                    if outermost:
                        self.sums[f"io.{kind}_calls"] += 1
                        self.sums[f"io.{kind}_bytes"] += _io_bytes(cls, name, out, args)
                    return out

                return wrapper

            return make

        def _io_bytes(cls, name, out, args) -> int:
            if isinstance(out, (bytes, str)):
                return len(out)
            if name == "pq_parquet_file":
                return out.metadata.serialized_size
            if name in ("write_bytes", "write_text"):
                return len(args[1])
            path = args[1] if name == "pq_write_table" else args[0]
            try:
                return orig_size(cls, path)
            except OSError:
                return 0

        for name in _IO_READS:
            self.wrap_method(FileIO, name, io_make("read", name))
        for name in _IO_WRITES:
            self.wrap_method(FileIO, name, io_make("write", name))

        # views: materialized-view refresh
        def refreshed(out, args, kwargs):
            if out not in (False, "full"):
                self.sums["views.incremental"] += 1
            if self._last_commit is not None:
                self.sums["views.freshness"] += time.perf_counter() - self._last_commit
                self.calls["views.freshness"] += 1

        self.wrap_method(
            Engine, "refresh_materialized_view", self._timed("views.refresh", jobs=True, after=refreshed)
        )

        # operators: the size-gated eager checkpoint
        self.wrap_function(
            "iceberg_rust_custom_spark.operators.util", "materialize_if_small",
            self._timed("operators.materialize_if_small"),
        )
        return self

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------------------- report
    def mean(self, key: str) -> float:
        return self.sums[key] / self.calls[key] if self.calls[key] else 0.0

    def metrics(self) -> dict[str, float]:
        s, c = self.sums, self.calls
        out = {}
        for name, _ in PER_LAYER:
            if name.endswith("_jobs"):
                key = name[: -len("_jobs")]
                out[name] = s[name] / c[key] if c[key] else 0.0
            elif name.endswith("_s"):
                out[name] = self.mean(name[: -len("_s")])
            else:
                out[name] = s[name]
        out["metadata.plan_files_calls"] = c["metadata.plan_files"]
        out["metadata.manifest_reads"] = c["metadata.manifest_read"]
        planned = s["metadata.files_planned"]
        out["metadata.files_scanned_per_planned"] = s["metadata.entries_scanned"] / planned if planned else 0.0
        out["spark.tasks"] = s["spark.tasks"] / c["spark.execute"] if c["spark.execute"] else 0.0
        out["table.transaction.commits"] = c["table.transaction.commit"]
        commits = c["table.transaction.commit"]
        out["table.transaction.cas_attempts_per_commit"] = (
            s["table.transaction.cas_attempts"] / commits if commits else 0.0
        )
        refreshes = c["views.refresh"]
        out["views.incremental_ratio"] = s["views.incremental"] / refreshes if refreshes else 0.0
        out["operators.materialize_if_small_calls"] = c["operators.materialize_if_small"]
        return out
