"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. ``setup`` builds the inputs and the
warehouse from the seed and computes the expected answers; ``run`` does a
fixed amount of work, sized from ``--seconds`` so that a run takes about
that long on a 4-core machine, and times every operation; ``verify`` runs
the end-of-run checks. Answers are checked outside the timed region.
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import data

MOR = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
    "write.merge.mode": "merge-on-read",
}


class Ctx:
    """What a workload shares with the runner: the session, a fresh
    warehouse, the seed's generator, the tracer (None when untraced), and
    the per-kind latency samples and failure counts of the run."""

    def __init__(self, spark, workdir: str, seed: int, tracer=None):
        from iceberg_rust_custom_spark import Engine

        self.spark = spark
        self.workdir = workdir
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.engine = Engine(spark, warehouse=os.path.join(workdir, "lake"))
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """A progress line on standard error, with seconds since the last."""
        now = time.perf_counter()
        print(f"# {msg}: {now - self._t0:.2f} s", file=sys.stderr, flush=True)
        self._t0 = now

    def phase(self, key: str, jobs: bool = False, tasks: bool = False):
        return self.tracer.span(key, jobs=jobs, tasks=tasks) if self.tracer else nullcontext()

    def query(self, build, construct: str = "read.construct", execute: str | None = None):
        """Build a DataFrame, then collect it, each phase under its own span."""
        with self.phase(construct, jobs=True):
            df = build()
        with self.phase("spark.execute", jobs=True, tasks=True), self.phase(execute) if execute else nullcontext():
            return df.collect()

    def op(self, kind: str, run, check=None):
        """One timed operation: its latency joins ``samples[kind]``; an
        exception or a failed ``check`` counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = run()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.samples[kind].append(time.perf_counter() - t0)
        self.expect(check is None or check(out), kind)
        return out

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"# wrong answer: {what}", file=sys.stderr)
            self.failed += 1

    def check(self, ok: bool, what: str) -> None:
        """An end-of-run check, counted as one more attempted operation."""
        self.attempted += 1
        self.expect(ok, what)


def _close(a: float, b: float) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _same_rows(got, want) -> bool:
    """Unordered row equality, floats compared with a tolerance."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(v) if isinstance(v, str) else 0 for v in r)  # noqa: E731
    for g, w in zip(sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key)):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if x is None or y is None:
                if x is not y:
                    return False
            elif isinstance(y, float) or isinstance(x, float):
                if not _close(x, y):
                    return False
            elif x != y:
                return False
    return True


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
class LakeIngest:
    """Writes beside reads. Each round appends a micro-batch to an
    unpartitioned ``orders`` and a month-partitioned ``lineitem``; every
    second round also runs a merge-on-read delete, update and merge. Then
    the round refreshes an aggregate and a join materialized view, scans
    both, and runs the five base-table reads: a range-pruned aggregate, a
    point lookup, a full-table aggregate, a runtime-filtered
    ``Table.join_scan`` and a time-travel scan of the set-up snapshot with
    its manifests evicted from the cache. Every read follows a commit."""

    INIT_BATCHES, LI_ROWS, ORDERS_ROWS = 24, 2000, 500
    SECONDS_PER_CYCLE = 30  # one cycle = an append-only round and a mutating round
    JOIN_WIDTH = 200
    AGG_SQL = (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n"
        " FROM bench.lineitem GROUP BY l_returnflag, l_linestatus"
    )
    JOIN_SQL = (
        "SELECT o.o_orderpriority, SUM(l.l_extendedprice) AS revenue, COUNT(*) AS n"
        " FROM bench.orders o JOIN bench.lineitem l ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o.o_orderpriority"
    )
    AGG_ORACLE = AGG_SQL.replace("bench.lineitem", "li")
    JOIN_ORACLE = JOIN_SQL.replace("bench.orders", "o").replace("bench.lineitem", "li")

    def __init__(self, ctx: Ctx, seconds: int):
        self.ctx = ctx
        self.rounds = 2 * max(1, round(seconds / self.SECONDS_PER_CYCLE))

    def setup(self) -> None:
        ctx, spark, rng = self.ctx, self.ctx.spark, self.ctx.rng
        n = self.INIT_BATCHES + self.rounds
        self.li_batches = data.lineitem_batches(rng, self.LI_ROWS * n, n, n)
        # lineitem batch b's order keys lie in [ORDERS_ROWS*b, ORDERS_ROWS*(b+1))
        self.o_batches = [data.orders_table(rng, self.ORDERS_ROWS, self.ORDERS_ROWS * b, n) for b in range(n)]
        init = self.INIT_BATCHES
        self.li_model = pa.concat_tables(self.li_batches[:init])
        self.o_model = pa.concat_tables(self.o_batches[:init])
        self.li = self._stream_fed_lineitem()
        orders = spark.createDataFrame(self.o_model)
        self.ot = ctx.engine.create_table("bench.orders", orders.schema, properties=MOR)
        self.ot.append(orders)
        ctx.log("lake_ingest tables")
        ctx.engine.create_materialized_view("bench.agg_mv", self.AGG_SQL)
        ctx.engine.create_materialized_view("bench.join_mv", self.JOIN_SQL)
        self.user_bytes = self.li_model.nbytes + self.o_model.nbytes
        self.rows_committed = 0

        # per-round inputs, built before timing
        self.frames = [
            (spark.createDataFrame(self.li_batches[b]), spark.createDataFrame(self.o_batches[b]))
            for b in range(init, n)
        ]
        self.mutations = {}
        for r in range(1, self.rounds, 2):
            known = self.ORDERS_ROWS * (init + r)
            lo = [int(x) for x in rng.integers(0, known - 100, 3)]
            src = data.orders_table(rng, 100, 0, n)
            src_keys = np.concatenate([np.arange(lo[2], lo[2] + 50), 10_000_000 + 50 * r + np.arange(50)])
            src = src.set_column(0, "o_orderkey", pa.array(src_keys, pa.int64()))
            self.mutations[r] = (lo[0], lo[1], src, spark.createDataFrame(src))
        self.first_snapshot = self.li.metadata.current_snapshot_id
        self.first_answer = self._oracle("SELECT COUNT(*), SUM(l_quantity) FROM li")
        months = self._oracle("SELECT DISTINCT strftime(date_trunc('month', l_shipdate), '%Y-%m-01') FROM li")
        self.reads = [
            self._read_params(sorted(m for (m,) in months), rng, self.ORDERS_ROWS * (init + r))
            for r in range(self.rounds + 1)
        ]
        ctx.log("lake_ingest views and inputs")
        # warm-up, untimed: one MV scan each and one read of each kind
        for name in ("bench.agg_mv", "bench.join_mv"):
            ctx.engine.scan_materialized_view(name).collect()
        for kind, build, check in self._reads(self.reads[-1]):
            ctx.check(check(build().collect()), f"warm-up {kind} read")
        ctx.log("lake_ingest warm-up")

    def _stream_fed_lineitem(self):
        """The initial micro-batches, written unshuffled in one job (a data
        file per batch and month it touches) and committed month by month:
        the layout of a stream-fed table, many small files across many
        manifests, without paying one write job per batch in set-up."""
        from iceberg_rust_custom_spark.table import write

        ctx, spark = self.ctx, self.ctx.spark
        src = [
            data.write(b, os.path.join(ctx.workdir, "src", f"lineitem-{i:02d}.parquet"))
            for i, b in enumerate(self.li_batches[: self.INIT_BATCHES])
        ]
        li = ctx.engine.create_table(
            "bench.lineitem", spark.read.parquet(src[0]).schema, partition_by=[("l_shipdate", "month")],
            properties={**MOR, "write.distribution-mode": "none"},
        )
        files = write.write_partitioned(
            spark.read.parquet(*src), li.metadata, os.path.join(li.metadata.data_dir(), "init")
        )
        by_month = defaultdict(list)
        for f in files:
            by_month[tuple(sorted(f.partition.items()))].append(f)
        for month in sorted(by_month):
            li.metadata = li.new_transaction().append(by_month[month]).commit()
        ctx.log(f"lake_ingest lineitem: {len(files)} files in {len(by_month)} commits")
        return li

    # -- the model: what the tables must hold
    def _oracle(self, sql: str):
        con = duckdb.connect()
        con.register("li", self.li_model)
        con.register("o", self.o_model)
        rows = con.execute(sql).fetchall()
        con.close()
        return rows

    def _read_params(self, months, rng, known: int):
        return (
            months[int(rng.integers(0, len(months)))],
            int(rng.integers(0, known)),
            int(rng.integers(0, known - self.JOIN_WIDTH)),
        )

    def _reads(self, params):
        """(kind, build, check) of the five base-table reads, answers from
        the model."""
        from pyspark.sql import functions as F

        from iceberg_rust_custom_spark.metadata import manifest

        month, key, lo = params
        y, m = int(month[:4]), int(month[5:7])
        nxt = f"{y + m // 12}-{m % 12 + 1:02d}-01"
        hi = lo + self.JOIN_WIDTH
        n = F.count(F.lit(1)).alias("n")
        li, ot = self.li, self.ot

        def read(kind, build, oracle):
            want = oracle if isinstance(oracle, list) else self._oracle(oracle)
            return kind, build, lambda rows: _same_rows(rows, want)

        yield read(
            "range",
            lambda: li.scan(f"l_shipdate >= '{month}' AND l_shipdate < '{nxt}'").agg(n, F.sum("l_extendedprice")),
            f"SELECT COUNT(*), SUM(l_extendedprice) FROM li WHERE l_shipdate >= '{month}' AND l_shipdate < '{nxt}'",
        )
        yield read(
            "point",
            lambda: li.scan(f"l_orderkey = {key}").agg(n, F.sum("l_quantity")),
            f"SELECT COUNT(*), SUM(l_quantity) FROM li WHERE l_orderkey = {key}",
        )
        yield read(
            "full",
            lambda: li.scan().groupBy("l_returnflag", "l_linestatus").agg(n, F.sum("l_quantity")),
            "SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity) FROM li GROUP BY 1, 2",
        )
        yield read(
            "join",
            lambda: li.join_scan(
                ot.scan(f"o_orderkey >= {lo} AND o_orderkey < {hi}"), {"l_orderkey": "o_orderkey"}
            ).agg(n, F.sum("l_extendedprice")),
            "SELECT COUNT(*), SUM(l_extendedprice) FROM li JOIN o ON l_orderkey = o_orderkey"
            f" WHERE o_orderkey >= {lo} AND o_orderkey < {hi}",
        )
        manifest.clear_manifest_cache()  # the old snapshot's manifests are read cold
        yield read(
            "time_travel",
            lambda: li.scan(snapshot_id=self.first_snapshot).agg(n, F.sum("l_quantity")),
            self.first_answer,
        )

    def _mutate(self, r: int) -> None:
        """A merge-on-read delete on lineitem, then an update and a merge on
        orders, each applied to the model too."""
        from iceberg_rust_custom_spark.table import maintenance as M

        lo_delete, lo_update, src, src_df = self.mutations[r]
        pred = f"l_orderkey >= {lo_delete} AND l_orderkey < {lo_delete + 50}"
        self.ctx.op("mutate.delete", lambda: M.delete_where(self.li, pred))
        k = self.li_model["l_orderkey"]
        self.li_model = self.li_model.filter(
            pc.invert(pc.and_(pc.greater_equal(k, lo_delete), pc.less(k, lo_delete + 50)))
        )

        pred = f"o_orderkey >= {lo_update} AND o_orderkey < {lo_update + 40}"
        self.ctx.op("mutate.update", lambda: M.update_where(self.ot, {"o_orderpriority": "'1-URGENT'"}, pred))
        k = self.o_model["o_orderkey"]
        hit = pc.and_(pc.greater_equal(k, lo_update), pc.less(k, lo_update + 40))
        col = self.o_model.schema.get_field_index("o_orderpriority")
        self.o_model = self.o_model.set_column(
            col, "o_orderpriority", pc.if_else(hit, "1-URGENT", self.o_model["o_orderpriority"])
        )

        self.ctx.op("mutate.merge", lambda: M.merge_upsert(self.ot, src_df, ["o_orderkey"]))
        keep = pc.invert(pc.is_in(self.o_model["o_orderkey"], src["o_orderkey"]))
        self.o_model = pa.concat_tables([self.o_model.filter(keep), src])
        self.rows_committed += src.num_rows

    def run(self) -> None:
        ctx, eng = self.ctx, self.ctx.engine
        for r, (li_df, o_df) in enumerate(self.frames):
            b = self.INIT_BATCHES + r
            ctx.op("append.lineitem", lambda: self.li.append(li_df))
            ctx.op("append.orders", lambda: self.ot.append(o_df, small_hint=True))
            self.li_model = pa.concat_tables([self.li_model, self.li_batches[b]])
            self.o_model = pa.concat_tables([self.o_model, self.o_batches[b]])
            self.rows_committed += self.li_batches[b].num_rows + self.o_batches[b].num_rows
            self.user_bytes += self.li_batches[b].nbytes + self.o_batches[b].nbytes
            if r in self.mutations:
                self._mutate(r)
            for name in ("bench.agg_mv", "bench.join_mv"):
                ctx.op(f"refresh.{name[6:]}", lambda: eng.refresh_materialized_view(name))
            for name, sql in (("bench.agg_mv", self.AGG_ORACLE), ("bench.join_mv", self.JOIN_ORACLE)):
                want = self._oracle(sql)
                ctx.op(
                    f"read.{name[6:]}",
                    lambda: ctx.query(lambda: eng.scan_materialized_view(name)),
                    lambda rows: _same_rows(rows, want),
                )
            for kind, build, check in self._reads(self.reads[r]):
                ctx.op(f"read.{kind}", lambda: ctx.query(build), check)

    def verify(self) -> None:
        ctx, eng = self.ctx, self.ctx.engine
        for name, sql in (("bench.agg_mv", self.AGG_SQL), ("bench.join_mv", self.JOIN_SQL)):
            full = eng.sql(sql).collect()
            stored = eng.scan_materialized_view(name).collect()
            ctx.check(_same_rows(stored, full), f"{name} equals its view SQL run in full")
        ctx.check(self.li.refresh().scan().count() == self.li_model.num_rows, "lineitem row count")
        ctx.check(self.ot.refresh().scan().count() == self.o_model.num_rows, "orders row count")
        ctx.info["stored_bytes_per_user_byte"] = _bytes_under(eng.warehouse) / self.user_bytes
        ctx.info["rows_committed"] = self.rows_committed


# ---------------------------------------------------------------------------
class CorpusDedup:
    """LLM-data operators over raw Parquet (no table metadata, commits or
    scan planning): each pass runs the six dedup and scoring operators with
    the headline queries' parameters and collects their results. The first
    pass runs in a fresh session, as a one-shot curation job does: nothing
    warms the operators' plans before it."""

    DOCS, VECTORS = 5000, 2000
    SECONDS_PER_PASS = 30

    def __init__(self, ctx: Ctx, seconds: int):
        from layers import CORPUS_OPS

        self.ctx = ctx
        self.ops = CORPUS_OPS
        self.passes = max(1, round(seconds / self.SECONDS_PER_PASS))

    def _write(self, name: str, docs: int, vectors: int) -> str:
        path = os.path.join(self.ctx.workdir, name)
        data.write(data.documents_table(self.ctx.rng, docs), os.path.join(path, "documents.parquet"))
        data.write(data.embeddings_table(self.ctx.rng, vectors), os.path.join(path, "embeddings.parquet"))
        return path

    def setup(self) -> None:
        from iceberg_rust_custom_spark.queries import ORACLES, QUERIES, RECALL_ORACLES

        ctx, spark = self.ctx, self.ctx.spark
        self.dir = self._write("corpus", self.DOCS, self.VECTORS)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        count = {op: con.execute(f"SELECT COUNT(*) FROM ({ORACLES[op]})").fetchone()[0]
                 for op in ("exact_dedup", "exact_substring_spans")}
        # minhash: every pair of identical documents must be a candidate
        groups = con.execute("SELECT list(doc_id ORDER BY doc_id) FROM documents GROUP BY text HAVING COUNT(*) > 1")
        dup_pairs = [(a, b) for (ids,) in groups.fetchall() for i, a in enumerate(ids) for b in ids[i + 1:]]
        # semantic dedup: recall of the planted duplicates (queries.RECALL_ORACLES)
        semantic = RECALL_ORACLES["semantic_dedup"]
        planted = con.execute(semantic["sql"]).fetchall()
        con.close()

        def minhash_ok(rows) -> bool:
            pairs = {(r[0], r[1]) for r in rows} | {(r[1], r[0]) for r in rows}
            return all(p in pairs for p in dup_pairs)

        def semantic_ok(rows) -> bool:
            group = {r[semantic["id_col"]]: r[semantic["group_col"]] for r in rows}
            hits = sum(a in group and group.get(a) == group.get(b) for a, b in planted)
            return len(rows) == self.VECTORS + len(planted) and hits >= semantic["min_recall"] * len(planted)

        checks = {
            "exact_dedup": lambda rows: len(rows) == count["exact_dedup"],
            "minhash_lsh_pairs": minhash_ok,
            "fuzzy_dedup_clusters": lambda rows: len(rows) == self.DOCS,
            "exact_substring_spans": lambda rows: len(rows) == count["exact_substring_spans"],
            "ngram_lm_quality": lambda rows: len(rows) == self.DOCS,
            "semantic_dedup": semantic_ok,
        }
        self.checks = checks
        ctx.log("corpus_dedup answers")

    def run(self) -> None:
        from iceberg_rust_custom_spark.queries import QUERIES

        ctx = self.ctx
        for _ in range(self.passes):
            for op in self.ops:
                ctx.op(
                    f"operator.{op}",
                    lambda: ctx.query(
                        lambda: QUERIES[op](ctx.spark, self.dir),
                        construct=f"operators.{op}.construct",
                        execute=f"operators.{op}.execute",
                    ),
                    self.checks[op],
                )
        ctx.info["docs_processed"] = self.DOCS * self.passes

    def verify(self) -> None:
        pass


WORKLOADS = {"lake_ingest": LakeIngest, "corpus_dedup": CorpusDedup}
