"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same Parquet bytes' worth of rows. Tables follow the TPC-H-like schema the
engine's headline queries use (``lineitem``, ``orders``) and the corpus
schema of its LLM-data operators (``documents``, ``embeddings``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1995-01-01", "D")

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = (
    "a agg batch big column data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table value window"
).split()
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def lineitem_batches(rng: np.random.Generator, rows: int, batches: int, months: int):
    """``batches`` pyarrow tables of a stream-fed ``lineitem``: batch ``b``
    carries the rows shipped around its slice of ``months`` months, so each
    micro-batch touches one or two month partitions, as a table fed by an
    ingest stream does. Order keys are unique per batch range."""
    days = months * 30
    per = rows // batches
    out = []
    for b in range(batches):
        lo = b * days // batches
        hi = (b + 1) * days // batches
        n_orders = max(1, per // 4)
        okey = b * n_orders + rng.integers(0, n_orders, per)
        qty = rng.integers(1, 51, per).astype("float64")
        price = np.round(qty * rng.uniform(900.0, 2000.0, per), 2)
        out.append(
            pa.table(
                {
                    "l_orderkey": pa.array(okey, pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, 20_000, per), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, 1_000, per), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, per), pa.int32()),
                    "l_quantity": pa.array(qty),
                    "l_extendedprice": pa.array(price),
                    "l_discount": pa.array(np.round(rng.integers(0, 11, per) / 100.0, 2)),
                    "l_tax": pa.array(np.round(rng.integers(0, 9, per) / 100.0, 2)),
                    "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, per)]),
                    "l_linestatus": pa.array(_STATUS[rng.integers(0, 2, per)]),
                    "l_shipdate": _ts(rng.integers(lo, max(hi, lo + 1), per)),
                }
            )
        )
    return out


def orders_table(rng: np.random.Generator, n: int, first_key: int = 0, months: int = 24) -> pa.Table:
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n), pa.int64()),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 2, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000.0, 400_000.0, n), 2)),
            "o_orderdate": _ts(rng.integers(0, months * 30, n)),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """A web-crawl-like corpus: random word sequences, a tenth of them near
    copies of an earlier document (a few words changed), a twentieth exact
    copies, and boilerplate runs shared across documents — so exact, fuzzy
    and substring dedup each find real work."""
    boiler = [" ".join(rng.choice(_WORDS, 12)) for _ in range(20)]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
            continue
        toks = list(rng.choice(_WORDS, int(rng.integers(10, 90))))
        if r < 0.4:
            toks.insert(int(rng.integers(0, len(toks))), boiler[int(rng.integers(0, len(boiler)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 32 topic centres, so near neighbours exist."""
    centres = rng.normal(size=(32, dim))
    label = rng.integers(0, 32, n)
    vec = centres[label] + 0.6 * rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
