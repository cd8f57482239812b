"""Query registry: every operator from SURVEY.md §2 as a (Spark
implementation, DuckDB oracle SQL) pair.

Contract (driver, __spark_entry__.py): each Spark callable takes
(spark, sf_dir) and returns a DataFrame; the oracle SQL runs on DuckDB with
views `region nation customer supplier part orders lineitem events documents
embeddings` over the same parquet. Column names/aliases match exactly; the
driver compares row counts, schemas, and order-insensitive value hashes.

Cross-engine determinism rules used throughout:
* money sums: per-row double expression → CAST to DECIMAL(38,10) → SUM →
  CAST back to DOUBLE (exact decimal aggregation removes float
  order-dependence; the final double is identical in both engines).
* timestamps in outputs are formatted to strings (Spark µs vs DuckDB ns).
* hashes: md5-based 32-bit (functions/hashing.py) — same value in both.
* top-k orderings always carry a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.functions.hashing import (
    MERSENNE_31,
    affine_hash_sql,
    md5h32_sql,
    minhash_params,
)
from iceberg_rust_custom_spark.operators import dedup as D
from iceberg_rust_custom_spark.operators import similarity as S
from iceberg_rust_custom_spark.operators import sketches as SK
from iceberg_rust_custom_spark.operators import text as TX
from iceberg_rust_custom_spark.operators import windows as WIN

QUERIES: dict = {}
ORACLES: dict = {}

# Band-checked oracles for the approximate family (VERDICT r10 #4). These
# queries' values are sketch-approximate BY DESIGN, so the driver's
# hash-exact gate records them rows-only — but each is still checkable
# against exact SQL within the sketch's published error bound.
# tools/check_correctness.py compares row count and every non-band column
# exactly, and each band column within max(abs_tol, rel_tol·|exact|);
# float/array-of-float cells compare elementwise. ``cols`` (optional)
# restricts the comparison to the oracle's columns when the Spark side
# also returns engine-specific ones (snapshot ids etc.).
BAND_ORACLES: dict = {}

# Recall-band oracles (r12, VERDICT r11 #5) for the approximate-by-design
# retrieval family: each admits an EXACT reference set computable in
# DuckDB, and the check is a recall floor instead of a value band.
# tools/check_correctness.py modes:
# * key_overlap       — recall of the oracle's key tuples among the Spark
#                       result's key tuples (exact top-k vs approx top-k);
# * pair_overlap      — same, over UNORDERED (id_a, id_b) pairs;
# * pairs_same_group  — fraction of oracle pairs whose two ids share one
#                       group in the Spark result (id_col → group_col).
# Floors carry margin under the observed deterministic values (synthetic
# near-random 64-dim embeddings are the ADVERSARIAL case for locality
# structures — real corpora cluster far more):
# ivf observed 0.73-0.77 (nprobe=4/16), lsh 0.45-0.54 vs the cos≥0.4 pair
# set (theory for 4×4 random-hyperplane bands at cos 0.4 predicts ~0.5),
# planted-duplicate co-clustering 1.0 by construction.
RECALL_ORACLES: dict = {}

RECALL_ORACLES["ivf_topk_approx"] = {
    "mode": "key_overlap",
    "keys": ["query_id", "vec_id"],
    "min_recall": 0.6,
    "sql": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id IN (0, 1, 2)),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cosine
          FROM embeddings e CROSS JOIN q)
        SELECT query_id, vec_id FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r
          FROM scored) t
        WHERE r <= 10
    """,
}

RECALL_ORACLES["embedding_lsh_candidates"] = {
    "mode": "pair_overlap",
    "keys": ["id_a", "id_b"],
    "min_recall": 0.3,
    "sql": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
}

RECALL_ORACLES["semantic_dedup"] = {
    "mode": "pairs_same_group",
    "id_col": "vec_id",
    "group_col": "cluster_id",
    "min_recall": 0.95,
    "sql": """
        SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
        FROM embeddings WHERE vec_id % 25 = 0
    """,
}

BAND_ORACLES["approx_aggregates"] = {
    # HLL++ (rsd 5% default → 15% at 3σ) and percentile_approx (rank error
    # 1/accuracy; value tolerance covers discrete-value steps)
    "sql": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS approx_partkeys,
               quantile_disc(l_quantity, 0.5) AS approx_median_qty,
               [quantile_disc(l_extendedprice, 0.25),
                quantile_disc(l_extendedprice, 0.75)] AS approx_price_quartiles
        FROM lineitem GROUP BY l_returnflag
    """,
    "rel": {
        "approx_partkeys": 0.15,
        "approx_median_qty": 0.05,
        "approx_price_quartiles": 0.05,
    },
    "abs": {"approx_median_qty": 1.0},
}

BAND_ORACLES["mergeable_sketch_rollup"] = {
    # DataSketches HLL (lgK=12 → rsd ≈1.6%; 10% band is >6σ, stable)
    "sql": """
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS approx_distinct
        FROM lineitem GROUP BY l_returnflag
    """,
    "rel": {"approx_distinct": 0.10},
}

BAND_ORACLES["iceberg_table_statistics"] = {
    # NDV within HLL tolerance; the gate itself hard-asserts a 9% band —
    # the checker re-verifies independently against DuckDB's exact counts.
    # snapshot_id/sequence_number are engine-generated → excluded via cols.
    "sql": """
        SELECT 'o_orderkey' AS column, COUNT(DISTINCT o_orderkey) AS ndv FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus) FROM orders
    """,
    "rel": {"ndv": 0.10},
    "cols": ["column", "ndv"],
}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table is written with TIMESTAMP(NANOS) which Spark's
    Parquet reader rejects (PARQUET_TYPE_ILLEGAL) unless the session was
    started with spark.sql.legacy.parquet.nanosAsLong — which we can't
    assume for the harness session. One-time fix-up per sf_dir: rewrite with
    µs timestamps (naive → TimestampNTZ in Spark, matching DuckDB's naive
    ns timestamps truncated to µs); Spark reads the converted file from
    then on. At real scale this is an upstream-writer fix, not a read path."""
    import hashlib
    import os

    cache_dir = os.path.join(
        "/tmp", "iceberg_rust_custom_spark_cache", hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    out = os.path.join(cache_dir, "events_us.parquet")
    if not os.path.exists(out):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(cache_dir, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/events.parquet")
        fields = [
            pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in t.schema
        ]
        t = t.cast(pa.schema(fields), safe=False)
        tmp = out + ".tmp"
        pq.write_table(t, tmp, compression="zstd")
        os.replace(tmp, out)
    return spark.read.parquet(out)


def _dsum(col_expr) -> F.Column:
    """Order-independent, engine-portable double sum: exact decimal
    aggregation, rounded to scale 4 BEFORE the double cast. The final
    decimal(38,10) -> double conversion is where engines can disagree by one
    ULP (DuckDB converts the int128 in two rounding steps); at scale 4 the
    scaled value fits 2^53 and both conversions are a single exact-int
    division -> bit-identical doubles."""
    return F.round(F.sum(col_expr.cast("decimal(38,10)")), 4).cast("double")


# =========================================================================
# §2.3 relational surface — projections, filters, aggregates
# =========================================================================


@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_charge,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — the reference's canonical agg evidence
    (datafusion_iceberg/examples/insert_csv.rs:118, table.rs:691)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            _dsum(F.col("l_discount")).alias("sum_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "group_by_sum_partkey",
    """
    SELECT l_partkey, CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_partkey
    """,
)
def group_by_sum_partkey(spark, sf_dir):
    """The reference's own TPC-H smoke query (insert_csv.rs:118)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "ungrouped_aggregates",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_price,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    """,
)
def ungrouped_aggregates(spark, sf_dir):
    """SELECT SUM(...) FROM t — integration_trino.rs:217 shape."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        _dsum(F.col("l_extendedprice")).alias("total_price"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


@q(
    "filter_projection_pushdown",
    """
    SELECT l_orderkey, l_partkey,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity < 10 AND l_returnflag = 'N'
    """,
)
def filter_projection_pushdown(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_quantity") < 10)
        & (F.col("l_returnflag") == "N")
    ).select(
        "l_orderkey",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double").alias("revenue"),
    )


@q(
    "having_filter",
    """
    SELECT l_suppkey, COUNT(*) AS n
    FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 500
    """,
)
def having_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 500)
    )


@q(
    "distinct_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@q(
    "stat_aggregates",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           CAST(MEDIAN(l_quantity) AS DOUBLE) AS med_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qe
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stat_aggregates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.median("l_quantity").cast("double").alias("med_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qe"),
    )


# =========================================================================
# joins
# =========================================================================


@q(
    "join_orders_customer",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_orders_customer(spark, sf_dir):
    """customer grows with SF — no forced broadcast; AQE picks broadcast at
    bench scale and shuffle-hash/SMJ when customer is cluster-sized."""
    o, c = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "multiway_join_regional_revenue",
    """
    SELECT r.r_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def multiway_join_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape. region/nation are fixed-size (5/25 rows at any SF) →
    always broadcast; supplier grows with SF → AQE decides."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q(
    "outer_join_null_handling",
    """
    SELECT c.c_custkey, COALESCE(o.cnt, 0) AS n_orders
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
)
def outer_join_null_handling(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey", F.coalesce("cnt", F.lit(0)).alias("n_orders")
    )


@q(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def semi_join_customers_with_orders(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@q(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers_without_orders(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@q(
    "cross_join_small",
    """
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def cross_join_small(spark, sf_dir):
    return _t(spark, sf_dir, "region").crossJoin(_t(spark, sf_dir, "nation")).select("r_name", "n_name")


@q(
    "theta_join_price_band",
    """
    SELECT p.p_partkey, COUNT(*) AS n_close
    FROM part p JOIN part p2
      ON p.p_partkey < p2.p_partkey AND ABS(p.p_retailprice - p2.p_retailprice) < 0.5
    GROUP BY p.p_partkey
    """,
)
def theta_join_price_band(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    p2 = p.select(F.col("p_partkey").alias("pk2"), F.col("p_retailprice").alias("rp2"))
    return (
        p.join(p2, (p.p_partkey < p2.pk2) & (F.abs(p.p_retailprice - p2.rp2) < 0.5))
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_close"))
    )


# =========================================================================
# windows / ranking / sorting
# =========================================================================


@q(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    """,
)
def window_topk_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"), "rnk")
    )


@q(
    "window_rank_dense_ntile",
    """
    SELECT o_orderkey,
           RANK() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
           NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS quartile
    FROM orders
    """,
)
def window_rank_dense_ntile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w_all = Window.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    w_st = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.rank().over(w_all).alias("rnk"),
        F.dense_rank().over(w_st).alias("drnk"),
        F.ntile(4).over(w_all).alias("quartile"),
    )


@q(
    "window_running_and_frames",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_total,
           ROUND(CAST(AVG(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS moving_avg3
    FROM orders
    """,
)
def window_running_and_frames(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            4,
        )
        .cast("double")
        .alias("running_total"),
        F.round(
            F.avg(F.col("o_totalprice").cast("decimal(38,10)"))
            .over(w.rowsBetween(-2, 0))
            .cast("double"),
            4,
        ).alias("moving_avg3"),
    )


@q(
    "window_lag_lead",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(LAG(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_quantity) AS DOUBLE) AS prev_qty,
           CAST(LEAD(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_quantity) AS DOUBLE) AS next_qty
    FROM lineitem
    """,
)
def window_lag_lead(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber", "l_quantity")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.lag("l_quantity").over(w).cast("double").alias("prev_qty"),
        F.lead("l_quantity").over(w).cast("double").alias("next_qty"),
    )


@q(
    "latest_row_per_key",
    """
    SELECT user_id, event_id, event_type, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_row_per_key(spark, sf_dir):
    """QUALIFY-style latest-snapshot-per-key (SCD type-1 read): one window
    shuffle on the key; the running row_number lets Spark discard losers
    early instead of materializing per-key groups."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id", "event_type", F.col("value").cast("double").alias("value"))
    )


@q(
    "lateral_view_explode",
    """
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def lateral_view_explode(spark, sf_dir):
    """Row-generating LATERAL VIEW explode (SQL front): one row per token —
    the generator path of the relational surface (DataFusion's unnest in
    the reference registry, context.rs:57)."""
    d = _t(spark, sf_dir, "documents").where("doc_id < 50")
    d.createOrReplaceTempView("_docs_lv")
    return spark.sql(
        "SELECT doc_id, token FROM _docs_lv "
        "LATERAL VIEW explode(filter(split(lower(text), '\\\\s+'), t -> t != '')) AS token"
    )


@q(
    "topk_global",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def topk_global(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
    )


# =========================================================================
# set ops, grouping sets, pivot
# =========================================================================


@q(
    "set_operations",
    """
    SELECT p_brand FROM part WHERE p_size > 40
    UNION
    SELECT p_brand FROM part WHERE p_retailprice > 1500
    """,
)
def set_operations(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.where("p_size > 40").select("p_brand").union(
        p.where("p_retailprice > 1500").select("p_brand")
    ).distinct()


@q(
    "intersect_except",
    """
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT
    SELECT l_suppkey FROM lineitem WHERE l_quantity > 49
    """,
)
def intersect_except(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    r = li.where("l_returnflag = 'R'").select("l_suppkey")
    a = li.where("l_returnflag = 'A'").select("l_suppkey")
    big = li.where("l_quantity > 49").select("l_suppkey")
    return r.intersect(a).exceptAll(big.distinct()).distinct()


@q(
    "rollup_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_flag_status(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@q(
    "grouping_sets",
    """
    SELECT l_returnflag, l_shipmode_null AS l_linestatus, COUNT(*) AS n FROM (
      SELECT l_returnflag, l_linestatus AS l_shipmode_null FROM lineitem) t
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode_null), ())
    """,
)
def grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "pivot_status_by_flag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,10)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,10)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_dsum(F.col("l_quantity")))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# =========================================================================
# subqueries
# =========================================================================


@q(
    "scalar_subquery",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def scalar_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_sq_orders")
    return spark.sql(
        "SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice "
        "FROM _sq_orders WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM _sq_orders)"
    )


@q(
    "in_subquery",
    """
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def in_subquery(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_in_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_in_customer")
    return spark.sql(
        "SELECT o_orderkey FROM _in_orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM _in_customer WHERE c_mktsegment = 'BUILDING')"
    )


@q(
    "correlated_subquery",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem l1
    WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def correlated_subquery(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_cs_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        FROM _cs_lineitem l1
        WHERE l_quantity > (SELECT AVG(l_quantity) FROM _cs_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        """
    )


# =========================================================================
# scalar function families
# =========================================================================


@q(
    "string_functions",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           LOWER(p_type) AS type_l,
           SUBSTR(p_name, 1, 5) AS name5,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_us,
           TRIM(p_name) AS name_trim,
           REGEXP_EXTRACT(p_type, '([A-Z]+)', 1) AS first_word,
           md5(p_name) AS name_md5
    FROM part
    """,
)
def string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        F.md5("p_name").alias("name_md5"),
    )


def _d6(col_expr) -> F.Column:
    """Engine-portable scale-6 rounding of a scalar double: route through
    DECIMAL(38,10) so Spark and DuckDB round the same decimal value rather
    than each rounding the raw binary double (which can leave
    representation-level hash differences while comparing numerically
    equal) — same rationale as _dsum above."""
    return F.round(col_expr.cast("decimal(38,10)"), 6).cast("double")


@q(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(ABS(l_discount - 0.05) AS DECIMAL(38,10)), 6) AS DOUBLE) AS d1,
           CAST(ROUND(CAST(POWER(l_quantity, 2) AS DECIMAL(38,10)), 6) AS DOUBLE) AS qty_sq,
           CAST(ROUND(CAST(SQRT(l_extendedprice) AS DECIMAL(38,10)), 6) AS DOUBLE) AS price_sqrt,
           CAST(ROUND(CAST(LN(l_extendedprice) AS DECIMAL(38,10)), 6) AS DOUBLE) AS price_ln,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_div,
           CAST(l_quantity AS BIGINT) % 5 AS qty_mod
    FROM lineitem
    """,
)
def math_functions(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _d6(F.abs(F.col("l_discount") - 0.05)).alias("d1"),
        _d6(F.pow("l_quantity", F.lit(2))).alias("qty_sq"),
        _d6(F.sqrt("l_extendedprice")).alias("price_sqrt"),
        _d6(F.log("l_extendedprice")).alias("price_ln"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod"),
    )


@q(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(MONTH(o_orderdate) AS INT) AS mo,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM orders
    """,
)
def date_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"), "yyyy-MM-dd").alias("due_date"),
    )


@q(
    "case_and_conditionals",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status2,
           CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS urgent
    FROM orders
    """,
)
def case_and_conditionals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status2"),
        F.when(F.col("o_orderpriority").like("1%"), 1).otherwise(0).alias("urgent"),
    )


@q(
    "json_extraction",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
    FROM events WHERE event_type = 'purchase'
    """,
)
def json_extraction(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.where("event_type = 'purchase'").select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k_val")
    )


@q(
    "array_map_struct_ops",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    """,
)
def array_map_struct_ops(spark, sf_dir):
    """Array agg gate. The array is emitted as a canonical comma-joined
    string because the driver's canonicalizer can't sort/hash list-typed
    pandas columns (round-1 driver err: `unhashable type: 'list'`); the
    raw-array variant stays under pytest via array_map_struct_ops_raw."""
    return array_map_struct_ops_raw(spark, sf_dir).select(
        "l_orderkey",
        F.array_join("flags", ",").alias("flags"),
        "n_lines",
        "total_qty",
    )


def array_map_struct_ops_raw(spark, sf_dir):
    """Unregistered raw-array variant (pytest-only): keeps coverage of the
    native array<string> output type that the driver gate can't hash."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_returnflag")).alias("flags"),
        F.count("*").alias("n_lines"),
        _dsum(F.col("l_quantity")).alias("total_qty"),
    )


@q(
    "higher_order_array_functions",
    """
    WITH arrs AS (
      SELECT l_orderkey, list_sort(list(CAST(floor(l_quantity) AS INT))) AS qtys
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(list_filter(qtys, x -> x > 25)) AS INT) AS n_large,
           CAST(list_sum(list_transform(qtys, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS sum_sq,
           qtys[1] AS min_qty
    FROM arrs
    """,
)
def higher_order_array_functions(spark, sf_dir):
    """Lambda higher-order functions over array columns (filter / aggregate
    / transform / element_at) — the SQL-surface evidence that nested-array
    pipelines stay in codegen, no UDF (reference delegates the equivalent
    DataFusion array functions wholesale, context.rs:57)."""
    li = _t(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.floor("l_quantity").cast("int"))).alias("qtys")
    )
    return arrs.select(
        "l_orderkey",
        F.size(F.filter("qtys", lambda x: x > F.lit(25))).alias("n_large"),
        F.aggregate(
            "qtys", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long") * x
        ).alias("sum_sq"),
        F.element_at("qtys", 1).alias("min_qty"),
    )


@q(
    "unpivot_metrics",
    """
    SELECT metric, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS total
    FROM (
      SELECT 'l_extendedprice' AS metric, l_extendedprice AS value FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    ) GROUP BY metric
    """,
)
def unpivot_metrics(spark, sf_dir):
    """UNPIVOT (wide → long reshaping) then per-metric aggregate; the
    inverse of pivot_status_by_flag."""
    li = _t(spark, sf_dir, "lineitem")
    up = li.unpivot(
        ["l_orderkey"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return up.groupBy("metric").agg(
        F.count("*").alias("n"), _dsum(F.col("value")).alias("total")
    )


# =========================================================================
# event-time windows (batch; beyond-reference — SURVEY §2.4)
# =========================================================================


@q(
    "tumbling_windows",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum(F.col("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return out


@q(
    "sliding_windows",
    """
    WITH offs AS (SELECT unnest(generate_series(0, 1)) AS k)
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n
    FROM events CROSS JOIN offs
    GROUP BY 1
    """,
)
def sliding_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n")
    )


@q(
    "session_windows_gaps_islands",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM marked)
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_idx
    """,
)
def session_windows_gaps_islands(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Both windows MUST share the (ts, event_id) total order: with duplicate
    # ts per user, a ROWS running sum over a nondeterministic tie order can
    # split sessions differently run-to-run (driver-red in round 1).
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp").cast("double") - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w) > 1800, 1
        ).otherwise(0),
    ).withColumn("session_idx", F.sum("new_session").over(w2))
    return marked.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"), _dsum(F.col("value")).alias("sum_value")
    )


@q(
    "asof_join_last_signup",
    """
    SELECT e.event_id, s.ts_s AS signup_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup') e
    ASOF LEFT JOIN (SELECT user_id AS uid_s, ts AS ts_s FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.uid_s AND s.ts_s <= e.ts
    """,
)
def asof_join_last_signup(spark, sf_dir):
    """As-of join (operators/asof.py) vs DuckDB's native ASOF JOIN oracle."""
    from iceberg_rust_custom_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.where("event_type <> 'signup'").select("event_id", "user_id", "ts")
    right = e.where("event_type = 'signup'").select("user_id", "ts")
    out = asof_join(left, right, ts_col="ts", key_col="user_id", tolerance_seconds=45 * 86400, bucket_seconds=86400)
    return out.select("event_id", F.col("r_ts").alias("signup_ts"))


@q(
    "interval_join_purchases_after_signup",
    """
    SELECT i.event_id AS signup_id,
           COUNT(p.event_id) AS purchases,
           CAST(ROUND(SUM(CAST(COALESCE(p.value, 0) AS DECIMAL(38,10))), 4) AS DOUBLE) AS purchase_value
    FROM (SELECT event_id, ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
          FROM events WHERE event_type = 'signup') i
    LEFT JOIN (SELECT event_id, ts AS pts, value FROM events WHERE event_type = 'purchase') p
      ON p.pts >= i.start_ts AND p.pts <= i.end_ts
    GROUP BY i.event_id
    """,
)
def interval_join_purchases_after_signup(spark, sf_dir):
    """Keyless interval join (operators/rangejoin.py): every purchase — by
    ANY user — within 2 hours of each signup. No equi-key exists, so a
    naive plan is a cartesian nested-loop; the operator's bucket-explode
    strategy turns it into one hash-shuffled equi-join on the time bucket.
    The DuckDB oracle runs the plain BETWEEN theta join."""
    from iceberg_rust_custom_spark.operators.rangejoin import interval_join

    e = _t(spark, sf_dir, "events")
    intervals = (
        e.where("event_type = 'signup'")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        )
    )
    points = e.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("pts"), F.col("value").alias("p_value")
    )
    joined = interval_join(points, intervals, "pts", "start_ts", "end_ts", bucket_seconds=7200, how="inner")
    counts = joined.groupBy("signup_id").agg(
        F.count("p_id").alias("purchases"),
        _dsum(F.coalesce(F.col("p_value"), F.lit(0))).alias("purchase_value"),
    )
    # LEFT semantics of the oracle: signups with zero purchases keep a row
    return (
        intervals.select("signup_id")
        .join(counts, "signup_id", "left")
        .select(
            "signup_id",
            F.coalesce(F.col("purchases"), F.lit(0)).alias("purchases"),
            F.coalesce(F.col("purchase_value"), F.lit(0.0)).alias("purchase_value"),
        )
    )


@q(
    "timeseries_downsample_gapfill",
    """
    WITH sparse AS (
      SELECT event_type,
             time_bucket(INTERVAL '6 hours', ts) AS bucket,
             COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
      FROM events WHERE event_type IN ('error', 'signup')
      GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi FROM sparse GROUP BY 1
    ), dense AS (
      SELECT event_type, UNNEST(generate_series(lo, hi, INTERVAL '6 hours')) AS bucket
      FROM spans
    )
    SELECT d.event_type, strftime(d.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           COALESCE(s.n, 0) AS n, COALESCE(s.sum_value, 0.0) AS sum_value
    FROM dense d LEFT JOIN sparse s ON d.event_type = s.event_type AND d.bucket = s.bucket
    """,
)
def timeseries_downsample_gapfill(spark, sf_dir):
    """Hypertable-style rollup (operators/timeseries.py): 6-hour downsample
    per event type, then gap-fill so every bucket between a type's first
    and last observation exists (missing buckets → 0). The dense axis is
    generated distributed via sequence()+explode — no driver loop."""
    from iceberg_rust_custom_spark.operators.timeseries import downsample, gap_fill

    e = _t(spark, sf_dir, "events").where(F.col("event_type").isin("error", "signup"))
    sparse = downsample(
        e,
        "ts",
        6 * 3600,
        ["event_type"],
        {"n": F.count(F.lit(1)), "sum_value": _dsum(F.col("value"))},
    )
    dense = gap_fill(
        sparse, "bucket", 6 * 3600, ["event_type"], fill={"n": 0, "sum_value": 0.0}
    )
    return dense.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n",
        "sum_value",
    )


@q(
    "bucketed_join_revenue_by_nation",
    """
    SELECT c_nationkey, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def bucketed_join_revenue_by_nation(spark, sf_dir):
    """Co-located join via Spark native bucketing: both sides bucketed on
    the key at write time, so the join itself plans with ZERO Exchange
    (operators/bucketed.py; the shuffle is paid once at write, amortized
    over every later join). Result must equal the plain shuffle join."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.operators.bucketed import bucketed_join, write_bucketed

    tag = hashlib.md5(f"{sf_dir}:bucketed".encode()).hexdigest()[:12]
    base = os.path.join("/tmp", "iceberg_rust_custom_spark_cache", tag)
    specs = (("orders", "o_custkey"), ("customer", "c_custkey"))
    names = {}
    for src, key in specs:
        tbl = f"bkt_{src}_{tag}"
        names[src] = tbl
        if not spark.catalog.tableExists(tbl):
            df = _t(spark, sf_dir, src).withColumnRenamed(key, "custkey")
            write_bucketed(df, tbl, "custkey", n_buckets=16, path=os.path.join(base, tbl))
    j = bucketed_join(spark, names["orders"], names["customer"], on="custkey")
    return j.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue")
    )


@q(
    "skew_salted_join_nation_revenue",
    """
    SELECT s.s_nationkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def skew_salted_join_nation_revenue(spark, sf_dir):
    """Salted equi-join (operators/skew.py): lineitem rows take a
    deterministic salt, supplier replicates 16×, the join key becomes
    (suppkey, salt) — a hot supplier's rows spread over 16 reducers. The
    oracle is the PLAIN join: salting must be row-identical."""
    from iceberg_rust_custom_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, s, on=["l_suppkey"], n_salts=16)
    return joined.groupBy("s_nationkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@q(
    "skew_salted_agg_returnflag",
    """
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg_returnflag(spark, sf_dir):
    """Two-phase salted aggregation (operators/skew.py): l_returnflag has
    only 3 values — exactly the single-hot-group shape AQE cannot split.
    Partials aggregate on (flag, salt) across 32 reducers, the final
    merge touches 3×32 rows. Oracle is the plain GROUP BY."""
    from iceberg_rust_custom_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        ["l_returnflag"],
        sums={"sum_qty": F.col("l_quantity").cast("decimal(38,10)")},
        counts="n",
        mins={"min_price": F.col("l_extendedprice")},
        maxs={"max_price": F.col("l_extendedprice")},
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("sum_qty"), 4).cast("double").alias("sum_qty"),
        "n",
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


# =========================================================================
# text analysis (beyond-reference)
# =========================================================================

_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
_NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_SHINGLES_SQL = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_TOKS_SQL}) - 2, 0)), "
    f"i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1] || ' ' || {_TOKS_SQL}[i+2]))"
)


@q(
    "text_quality_features",
    """
    SELECT doc_id,
           LENGTH(text) AS q_chars,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS q_tokens,
           ROUND(CASE WHEN len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) > 0
                 THEN LENGTH(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
                 ELSE 0.0 END, 6) AS q_mean_word_len,
           len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) AS n_stop
    FROM documents
    """,
)
def text_quality_features(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = TX.tokens(c)
    n_tokens = F.size(toks)
    return d.select(
        "doc_id",
        F.length(c).alias("q_chars"),
        n_tokens.alias("q_tokens"),
        F.round(
            F.when(n_tokens > 0, F.length(F.regexp_replace(c, r"\s+", "")) / n_tokens).otherwise(0.0), 6
        ).alias("q_mean_word_len"),
        F.regexp_count(F.lower(c), F.lit(r"\b(the|and|of|to|is|a)\b")).alias("n_stop"),
    )


@q(
    "language_id_heuristic",
    """
    SELECT doc_id, lang,
      CASE WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
           WHEN len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) >= len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht)\\b'))
            AND len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) >= len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est)\\b'))
            AND len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) >= len(regexp_extract_all(lower(text), '\\b(el|la|los|que|es|de)\\b'))
           THEN 'en'
           WHEN len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht)\\b')) >= len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est)\\b'))
            AND len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht)\\b')) >= len(regexp_extract_all(lower(text), '\\b(el|la|los|que|es|de)\\b'))
           THEN 'de'
           WHEN len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est)\\b')) >= len(regexp_extract_all(lower(text), '\\b(el|la|los|que|es|de)\\b'))
           THEN 'fr'
           ELSE 'es' END AS lang_pred
    FROM documents
    """,
)
def language_id_heuristic(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return TX.language_id(d).select("doc_id", "lang", "lang_pred")


@q(
    "document_fingerprint",
    f"""
    SELECT doc_id, {md5h32_sql(_NORM_TEXT_SQL)} AS fingerprint
    FROM documents
    """,
)
def document_fingerprint(spark, sf_dir):
    return TX.fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@q(
    "token_counts",
    """
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS ws_tokens,
           len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9一-鿿]+'), t -> t <> '')) AS bpe_ish_tokens
    FROM documents
    """,
)
def token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


# =========================================================================
# dedup (beyond-reference)
# =========================================================================


@q(
    "exact_dedup",
    f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY {md5h32_sql(_NORM_TEXT_SQL)}
    """,
)
def exact_dedup(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "line_level_dedup",
    """
    WITH docs AS (
      SELECT doc_id,
             'source: ' || source || chr(10) || 'lang: ' || lang || chr(10) || text AS text
      FROM documents
    ), lines AS (
      SELECT doc_id, t.i AS pos, trim(l[t.i]) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs) d,
           UNNEST(generate_series(1, len(d.l))) AS t(i)
    ), ranked AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM lines WHERE line <> ''
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
           COUNT(*) AS n_lines_kept
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
)
def line_level_dedup(spark, sf_dir):
    """C4-style cross-corpus line dedup (dedup.py::line_dedup). The corpus
    is documents prefixed with boilerplate header lines (source/lang) so
    repeated lines actually exist: every header line survives only in the
    first document that carries it."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("source: "), F.col("source")),
            F.concat(F.lit("lang: "), F.col("lang")),
            F.col("text"),
        ).alias("text"),
    )
    return D.line_dedup(d, "doc_id", "text")


def _minhash_oracle(num_hashes: int = 16) -> str:
    mins = ",\n           ".join(
        f"MIN({affine_hash_sql('h0', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), hashed AS (
      SELECT doc_id, {md5h32_sql('shingle')} AS h0 FROM sh WHERE shingle <> ''
    )
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
    """


@q("minhash_signatures", _minhash_oracle(16))
def minhash_signatures(spark, sf_dir):
    return D.minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16)


def _lsh_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN({affine_hash_sql('h0', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = []
    for b in range(bands):
        cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        sig = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(f"SELECT doc_id, {b} AS band_idx, {sig} AS band_sig FROM sig")
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), hashed AS (
      SELECT doc_id, {md5h32_sql('shingle')} AS h0 FROM sh WHERE shingle <> ''
    ), sig AS (
      SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
    ), banded AS (
      {banded}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


def _cc_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    # DuckDB replays the clustering as min-reachable-id over the LSH pair
    # graph: a recursive CTE seeds every doc with its own id and propagates
    # labels across (undirected) edges; MIN per node = the component id the
    # large-star/small-star algorithm converges to.
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_oracle(num_hashes, bands)}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
    )
    SELECT u AS doc_id, MIN(lbl) AS cluster_id, u = MIN(lbl) AS is_canonical
    FROM reach GROUP BY u
    """


def _lsh_verified_oracle(num_hashes: int = 16, bands: int = 8, threshold: float = 0.5) -> str:
    return f"""
    WITH cand AS ({_lsh_oracle(num_hashes, bands)}),
    sh2 AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh2 WHERE shingle <> '' GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN sh2 a ON a.doc_id = c.id_a
      JOIN sh2 b ON b.doc_id = c.id_b AND a.shingle = b.shingle
      WHERE a.shingle <> ''
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
    FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id JOIN sizes sb ON i.id_b = sb.doc_id
    WHERE i.i * 1.0 / (sa.sz + sb.sz - i.i) >= {threshold}
    """


@q("lsh_verified_pairs", _lsh_verified_oracle(16, 8, 0.5))
def lsh_verified_pairs(spark, sf_dir):
    """Two-stage fuzzy dedup (the 100 TB production shape): LSH candidate
    generation, then EXACT n-gram Jaccard computed only on the candidate
    set — banding false positives removed, corpus never all-pairs joined."""
    return D.lsh_verified_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16, bands=8, threshold=0.5
    )


def _incremental_minhash_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN({affine_hash_sql('h0', a, b)}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def banded(src: str, out_id: str) -> str:
        selects = []
        for b in range(bands):
            cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
            sig = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            selects.append(f"SELECT doc_id AS {out_id}, {b} AS band_idx, {sig} AS band_sig FROM {src}")
        return "\nUNION ALL\n".join(selects)

    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), hashed AS (
      SELECT doc_id, {md5h32_sql('shingle')} AS h0 FROM sh WHERE shingle <> ''
    ), sig AS (
      SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
    ), corpus_sig AS (
      SELECT * FROM sig WHERE doc_id % 5 <> 0
    ), new_sig AS (
      SELECT * FROM sig WHERE doc_id % 5 = 0
    ), nb AS (
      {banded('new_sig', 'new_id')}
    ), cb AS (
      {banded('corpus_sig', 'corpus_id')}
    )
    SELECT DISTINCT nb.new_id, cb.corpus_id
    FROM nb JOIN cb ON nb.band_idx = cb.band_idx AND nb.band_sig = cb.band_sig
    """


@q("incremental_minhash_dedup", _incremental_minhash_oracle(16, 8))
def incremental_minhash_dedup(spark, sf_dir):
    """Daily-ingest dedup: a new batch (doc_id % 5 = 0) checked against the
    STORED signatures of the standing corpus (doc_id % 5 != 0) — the corpus
    text is never re-read or re-hashed; only the (band, signature) buckets
    that collide are joined. At 100 TB this is the difference between
    O(|batch|) per ingest and a full-corpus re-signature."""
    docs = _t(spark, sf_dir, "documents")
    corpus_sigs = D.minhash_signature(
        docs.where(F.col("doc_id") % 5 != 0), "doc_id", "text", num_hashes=16
    )
    return D.incremental_minhash_pairs(
        corpus_sigs, docs.where(F.col("doc_id") % 5 == 0), "doc_id", "text", num_hashes=16, bands=8
    )


@q("fuzzy_dedup_clusters", _cc_oracle(16, 8))
def fuzzy_dedup_clusters(spark, sf_dir):
    """End-to-end fuzzy dedup: LSH candidate pairs → connected components
    (alternating large-star/small-star, O(log n) rounds) → every doc labeled
    with its cluster's min id + a canonical-keep flag. A~B and B~C collapse
    into one cluster even when A~C was never emitted as a pair — the step
    pair-based dedup misses. `WHERE is_canonical` is the deduplicated corpus."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=8)
    return D.dedup_clusters(docs, "doc_id", pairs)


def _cc_keep_best_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    # same recursive-CTE clustering; canonical = longest text, tie → min id
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_oracle(num_hashes, bands)}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
    ),
    lab AS (
      SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u
    )
    SELECT l.doc_id, l.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY l.cluster_id
             ORDER BY LENGTH(d.text) DESC, l.doc_id ASC
           ) = 1 AS is_canonical
    FROM lab l JOIN documents d ON d.doc_id = l.doc_id
    """


def _dup_spans_oracle(L: int = 8) -> str:
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest(generate_series(1, greatest(len(t) - {L - 1}, 0))) AS pos, t
      FROM toks
    ),
    hashed AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(t, pos, pos + {L - 1}), ' ')) AS h
      FROM grams
    ),
    dups AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    hits AS (SELECT doc_id, pos FROM hashed JOIN dups USING (h)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN COALESCE(pos > MAX(pos + {L - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, TRUE)
                  THEN 1 ELSE 0 END AS new_span
      FROM hits
    ),
    sp AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM isl
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + {L - 1} AS INT) AS span_end,
           CAST(MAX(pos) + {L - 1} - MIN(pos) + 1 AS INT) AS span_tokens
    FROM sp GROUP BY doc_id, span
    """


@q("exact_substring_spans", _dup_spans_oracle(8))
def exact_substring_spans(spark, sf_dir):
    """Exact-substring duplicate spans (Lee et al. 2022, relationally —
    dedup.py::duplicate_spans): maximal ≥8-token runs appearing in more
    than one document, as (doc, start, end) token ranges. The
    cut-the-duplicated-bytes complement to document-level fuzzy dedup."""
    return D.duplicate_spans(_t(spark, sf_dir, "documents"), "doc_id", "text", min_len=8)


def _cut_spans_oracle(L: int = 8) -> str:
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
    return f"""
    WITH spans AS ({_dup_spans_oracle(L)}),
    cutpos AS (
      SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos FROM spans
    ),
    toks AS (
      SELECT doc_id, unnest(generate_series(1, len({toks}))) AS pos, {toks} AS t
      FROM documents
    ),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.t[tk.pos] AS tok
      FROM toks tk ANTI JOIN cutpos c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
    ),
    re AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_cut,
             CAST(COUNT(*) AS INT) AS n_tokens_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(re.text_cut, '') AS text_cut,
           COALESCE(re.n_tokens_kept, 0) AS n_tokens_kept,
           CAST(len({toks}) - COALESCE(re.n_tokens_kept, 0) AS INT) AS n_tokens_cut
    FROM documents d LEFT JOIN re ON re.doc_id = d.doc_id
    """


@q("exact_substring_cut", _cut_spans_oracle(8))
def exact_substring_cut(spark, sf_dir):
    """The cut step of exact-substring dedup: remove every cross-document
    duplicated ≥8-token span from the text (dedup.py::cut_duplicate_spans)
    and report kept/cut token counts per document."""
    return D.cut_duplicate_spans(_t(spark, sf_dir, "documents"), "doc_id", "text", min_len=8)


@q("fuzzy_dedup_keep_best", _cc_keep_best_oracle(16, 8))
def fuzzy_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup: same LSH → connected-components clustering as
    fuzzy_dedup_clusters, but the canonical doc kept per cluster is the
    HIGHEST-QUALITY one (longest text here; any score column works), not
    the smallest id — near-dup clusters usually mix a full document with
    truncated variants, and min-id would keep an arbitrary one."""
    docs = _t(spark, sf_dir, "documents").withColumn("quality", F.length("text"))
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=8)
    return D.dedup_clusters(docs, "doc_id", pairs, score_col="quality")


def _repetition_oracle() -> str:
    from iceberg_rust_custom_spark.operators.text import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
    )

    top_ns, dup_ns = sorted(GOPHER_TOP_NGRAM_MAX), sorted(GOPHER_DUP_NGRAM_MAX)

    def gram_sql(n: int) -> str:
        terms = " || ' ' || ".join(f"{_TOKS_SQL}[i+{k}]" for k in range(n))
        return (
            f"SELECT doc_id, {n} AS n, unnest(list_transform("
            f"generate_series(1, greatest(len({_TOKS_SQL}) - {n - 1}, 0)), i -> {terms.replace('[i+0]', '[i]')})) AS gram "
            f"FROM documents"
        )

    grams = "\n      UNION ALL\n      ".join(gram_sql(n) for n in top_ns + dup_ns)
    top_cols = ",\n             ".join(
        f"MAX(CASE WHEN n = {n} THEN topmass END) AS top_{n}" for n in top_ns
    )
    dup_cols = ",\n             ".join(
        f"MAX(CASE WHEN n = {n} THEN dupmass END) AS dup_{n}" for n in dup_ns
    )
    top_out = ",\n           ".join(
        f"ROUND(LEAST(COALESCE(top_{n} / chars, 0), 1), 6) AS rep_top_{n}gram_frac" for n in top_ns
    )
    dup_out = ",\n           ".join(
        f"ROUND(LEAST(COALESCE(dup_{n} / chars, 0), 1), 6) AS rep_dup_{n}gram_frac" for n in dup_ns
    )
    passing = " AND ".join(
        ["COALESCE(dlf, 0) <= 0.30", "COALESCE(dlcf, 0) <= 0.20"]
        + [
            f"LEAST(COALESCE(top_{n} / chars, 0), 1) <= {GOPHER_TOP_NGRAM_MAX[n]}"
            for n in top_ns
        ]
        + [
            f"LEAST(COALESCE(dup_{n} / chars, 0), 1) <= {GOPHER_DUP_NGRAM_MAX[n]}"
            for n in dup_ns
        ]
    )
    return f"""
    WITH line_counts AS (
      SELECT doc_id, line, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '')) AS line
        FROM documents
      ) GROUP BY doc_id, line
    ), line_stats AS (
      SELECT doc_id,
             SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / SUM(cnt) AS dlf,
             SUM(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)::DOUBLE
               / SUM(cnt * length(line)) AS dlcf
      FROM line_counts GROUP BY doc_id
    ), gram_counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt FROM (
      {grams}
      ) GROUP BY doc_id, n, gram
    ), per_n AS (
      SELECT doc_id, n, MAX(cnt * length(gram)) AS topmass,
             SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dupmass
      FROM gram_counts GROUP BY doc_id, n
    ), wide AS (
      SELECT doc_id,
             {top_cols},
             {dup_cols}
      FROM per_n GROUP BY doc_id
    )
    SELECT d.doc_id,
           ROUND(LEAST(COALESCE(dlf, 0), 1), 6) AS rep_dup_line_frac,
           ROUND(LEAST(COALESCE(dlcf, 0), 1), 6) AS rep_dup_line_char_frac,
           {top_out},
           {dup_out},
           ({passing}) AS gopher_repetition_pass
    FROM (SELECT doc_id, length(text)::DOUBLE AS chars FROM documents) d
    LEFT JOIN line_stats USING (doc_id)
    LEFT JOIN wide USING (doc_id)
    """


@q("gopher_repetition_signals", _repetition_oracle())
def gopher_repetition_signals(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021): duplicate-line fractions
    and repeated-n-gram character shares per document, with the published
    pass thresholds. The step between raw text and trainable corpus that
    length/punct features alone don't cover."""
    return TX.repetition_signals(_t(spark, sf_dir, "documents"), "doc_id")


@q("minhash_lsh_pairs", _lsh_oracle(16, 8))
def minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=16, bands=8)


def _simhash_oracle(bits: int = 32) -> str:
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}" for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(bits))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {md5h32_sql('tok')} AS th FROM tok
    ), sums AS (
      SELECT doc_id, {sums} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM sums
    """


@q("simhash_fingerprints", _simhash_oracle(32))
def simhash_fingerprints(spark, sf_dir):
    return D.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=32)


@q(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh WHERE shingle <> '' GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE a.shingle <> ''
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5)


@q(
    "embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    """,
)
def embedding_neardup_pairs(spark, sf_dir):
    return D.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.3)


@q(
    "embedding_neardup_pairs_blocked",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    """,
)
def embedding_neardup_pairs_blocked(spark, sf_dir):
    """The 100-TB tier of exact all-pairs cosine: max_broadcast_rows=0
    forces the blocked applyInPandas path (no driver toPandas of the
    corpus, no broadcast) — hash-matched against the same all-pairs
    oracle as the broadcast tier."""
    return D.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.3, max_broadcast_rows=0, n_blocks=8,
    )


# =========================================================================
# similarity search (beyond-reference)
# =========================================================================


@q(
    "cosine_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
      FROM embeddings e CROSS JOIN q)
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored) t
    WHERE rank <= 10
    """,
)
def cosine_topk_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk(emb, queries, k=10)


@q("ivf_topk_approx")  # approximate two-stage search: rows-only check
def ivf_topk_approx(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4)


@q("embedding_lsh_candidates")  # LSH bucketing: rows-only check
def embedding_lsh_candidates(spark, sf_dir):
    return S.cosine_lsh_candidates(_t(spark, sf_dir, "embeddings"), n_planes=16, bands=4, dim=64)


@q("semantic_dedup")  # k-means cells bound the search: recall-checked (r12)
def semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: k-means-partition the
    embedding space, near-dup pairs only within cells (O(N²/k) quadratic
    work), connected components → (id, cluster_id, is_canonical).

    The corpus carries PLANTED exact duplicates (every 25th vector copied
    under id+1,000,000) so the approximate result has a numeric oracle:
    a true duplicate pair lands in the same k-means cell by construction
    (identical vectors share a nearest centroid), so every planted pair
    must co-cluster — RECALL_ORACLES['semantic_dedup'] checks that
    planted-duplicate recall against the deterministic pair list."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return S.semantic_dedup(
        emb.unionByName(planted),
        "vec_id",
        "embedding",
        threshold=0.4,
        n_centroids=16,
        iterations=2,
    )


# =========================================================================
# Iceberg-table round trips: the engine's write path feeding its read path,
# verified against SQL over the original parquet (§2.1/2.2 parity inside
# the correctness gate)
# =========================================================================


def _roundtrip_table(
    spark, sf_dir, source: str, partition_by=None, key: str = "", properties=None, sort_by=None
):
    """Create (once per session+sf) an engine table from a source parquet and
    return it. Warehouse lives under /tmp keyed by (sf_dir, source)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:{source}:{key}".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    name = f"rt.{source}"
    if not eng.table_exists(name):
        df = _t(spark, sf_dir, source)
        t = eng.create_table(
            name, df.schema, partition_by=partition_by, properties=properties, sort_by=sort_by
        )
        t.append(df)
    return eng.load_table(name)


@q(
    "iceberg_roundtrip_partitioned_agg",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def iceberg_roundtrip_partitioned_agg(spark, sf_dir):
    """Write lineitem into a month(l_shipdate)-partitioned engine table,
    read it back, aggregate — proves partitioned write/commit/scan parity
    (the reference's core loop, table.rs:601-716)."""
    t = _roundtrip_table(spark, sf_dir, "lineitem", partition_by=[("l_shipdate", "month")])
    return (
        t.scan()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "iceberg_avro_interop_roundtrip",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderstatus
    """,
)
def iceberg_avro_interop_roundtrip(spark, sf_dir):
    """Spec-v2 binary-metadata interop gate: write orders into a partitioned
    engine table, EXPORT it as real Iceberg Avro manifests + manifest list
    + metadata.json (metadata/iceberg_interop.py, mirroring
    iceberg-rust/src/table/manifest.rs:107-392 / manifest_list.rs:53-104),
    IMPORT that exported table back (Avro → native manifests), and answer a
    pruned aggregate over the *imported* table. Value-exact vs SQL over the
    original parquet proves the entire Avro round trip preserves rows,
    partition tuples, and prunable stats."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:avro_interop".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_imported"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders", df.schema, partition_by=[("o_orderdate", "month")])
        t.append(df)
        md_path = eng.export_table("rt.orders", os.path.join(wh, "exported"))
        eng.import_table("rt.orders_imported", md_path)
    t2 = eng.load_table("rt.orders_imported")
    assert t2.count_planned_files("o_orderdate >= '1997-01-01'") < t2.count_planned_files()
    return (
        t2.scan("o_orderdate >= '1997-01-01'")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("sum_price"))
    )


@q(
    "iceberg_pruned_scan",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
    """,
)
def iceberg_pruned_scan(spark, sf_dir):
    """Predicate scan through the engine's two-level pruning (manifest
    FieldSummary + file stats) must return exactly the rows SQL returns."""
    t = _roundtrip_table(spark, sf_dir, "lineitem", partition_by=[("l_shipdate", "month")])
    return t.scan("l_shipdate >= '1998-06-01'").select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("double").alias("l_quantity")
    )


@q(
    "iceberg_clustered_scan",
    """
    SELECT l_orderkey, l_linenumber,
           strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
    FROM lineitem WHERE l_shipdate >= DATE '1998-06-01' AND l_shipdate < DATE '1998-08-01'
    """,
)
def iceberg_clustered_scan(spark, sf_dir):
    """Range-predicate scan over an UNPARTITIONED table clustered by sort
    order (write.distribution-mode=range + ORDER BY l_shipdate at write):
    files carry tight non-overlapping min/max, so file-stats pruning alone
    approaches partition-level selectivity — the clustering payoff of the
    sort orders the reference stores but never applies (sort.rs:17-68)."""
    t = _roundtrip_table(
        spark,
        sf_dir,
        "lineitem",
        key="clustered",
        properties={"write.distribution-mode": "range", "write.range-partitions": "8"},
        sort_by=["l_shipdate"],
    )
    n_all = t.count_planned_files()
    pred = "l_shipdate >= '1998-06-01' AND l_shipdate < '1998-08-01'"
    assert t.count_planned_files(pred) < n_all, "clustered scan should prune files"
    return t.scan(pred).select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )


@q(
    "iceberg_bloom_point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_custkey = 37
    """,
)
def iceberg_bloom_point_lookup(spark, sf_dir):
    """Point lookup through per-file bloom sketches (beyond-reference
    pruning level: min/max bounds can't skip interleaved high-cardinality
    keys, the manifest bloom can — functions/bloom.py). Result must equal
    the plain SQL filter exactly; the bloom only removes files."""
    t = _roundtrip_table(
        spark,
        sf_dir,
        "orders",
        key="bloom",
        properties={"write.metadata.bloom-filter-columns": "o_custkey"},
    )
    return t.scan("o_custkey = 37").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@q(
    "iceberg_runtime_filtered_join",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_custkey BETWEEN 1000 AND 3000
    GROUP BY o_orderstatus
    """,
)
def iceberg_runtime_filtered_join(spark, sf_dir):
    """Runtime join-key file pruning (DPP analogue, table/runtime_filter.py):
    the filtered customer dim is probed for its ACTUAL c_custkey set, the
    custkey-clustered orders fact plans only the files whose stats overlap
    it, and the join result must equal the plain SQL join — the reference's
    PruningPredicate mechanism (pruning_statistics.rs:32-218) driven from
    the dim side of a join."""
    t = _roundtrip_table(
        spark,
        sf_dir,
        "orders",
        key="rtfilter",
        properties={"write.distribution-mode": "range", "write.range-partitions": "8"},
        sort_by=["o_custkey"],
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .where("c_mktsegment = 'BUILDING' AND c_custkey BETWEEN 1000 AND 3000")
        .select("c_custkey")
    )
    from iceberg_rust_custom_spark.table.runtime_filter import join_key_predicate

    assert t.count_planned_files(
        join_key_predicate(dim, {"o_custkey": "c_custkey"})
    ) < t.count_planned_files(), "runtime filter should prune clustered fact files"
    return (
        t.join_scan(dim, {"o_custkey": "c_custkey"})
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q("iceberg_table_statistics")  # rows-only: NDV estimates are sketch-approximate by design
def iceberg_table_statistics(spark, sf_dir):
    """ANALYZE TABLE → spec-shaped statistics entry with mergeable HLL NDV
    blobs (table/statistics.py; beyond reference — no statistics support
    there). Incremental on appends: the second analyze sketches only the
    delta and unions blobs. Returned frame = the statistics metadata table;
    a hard assert checks every estimate lands within HLL error of exact."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:stats".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_stats"):
        df = _t(spark, sf_dir, "orders")
        half = df.where("o_orderkey % 2 = 0")
        t = eng.create_table("rt.orders_stats", df.schema)
        t.append(half)
        t.analyze(["o_orderkey", "o_custkey", "o_orderstatus"])
        t.append(df.where("o_orderkey % 2 = 1"))
        t.analyze(["o_orderkey", "o_custkey", "o_orderstatus"])  # incremental blob merge
    t = eng.load_table("rt.orders_stats")
    stats = {r.column: r.ndv for r in t.statistics_df().collect()}
    exact = {
        r["c"]: r["n"]
        for r in _t(spark, sf_dir, "orders")
        .selectExpr(
            "stack(3, 'o_orderkey', count(distinct o_orderkey), "
            "'o_custkey', count(distinct o_custkey), "
            "'o_orderstatus', count(distinct o_orderstatus)) AS (c, n)"
        )
        .collect()
    }
    for c, n in exact.items():
        assert abs(stats[c] - n) <= max(3, n * 0.09), (c, stats[c], n)
    return t.statistics_df().orderBy("column")


@q(
    "iceberg_materialized_view",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_materialized_view(spark, sf_dir):
    """MV over an engine table: storage-table read must equal recomputation
    (materialized_view.rs:235-545 shape)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:mv".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders"):
        df = _t(spark, sf_dir, "orders")
        eng.create_table("rt.orders", df.schema).append(df)
    if not eng.table_exists("rt.orders_mv"):
        eng.create_materialized_view(
            "rt.orders_mv",
            "SELECT o_orderstatus, COUNT(*) AS n, "
            "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue "
            "FROM rt.orders GROUP BY o_orderstatus",
        )
    eng.refresh_materialized_view("rt.orders_mv")
    return eng.scan_materialized_view("rt.orders_mv")


@q(
    "iceberg_compaction_preserves_data",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE) AS bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def iceberg_compaction_preserves_data(spark, sf_dir):
    """Append twice in halves, compact, aggregate — rewrite must preserve
    content exactly (operation.rs:378-552 semantics)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import compact

    tag = hashlib.md5(f"{sf_dir}:compact".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.customer"):
        df = _t(spark, sf_dir, "customer")
        t = eng.create_table("rt.customer", df.schema)
        half = df.where(F.col("c_custkey") % 2 == 0)
        t.append(half)
        t.append(df.where(F.col("c_custkey") % 2 == 1))
        compact(t)
    t = eng.load_table("rt.customer")
    return (
        t.scan()
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), _dsum(F.col("c_acctbal")).alias("bal"))
    )


# =========================================================================
# additional §2.3 surface: VALUES/CAST, crypto hashes, ALL-variant set ops,
# EXISTS subquery, approx aggregates
# =========================================================================


@q(
    "values_inline_cast",
    """
    SELECT i, CAST(s AS DOUBLE) AS v, CAST(CAST(dt AS DATE) AS VARCHAR) AS dt_s
    FROM (VALUES (1, '1.5', '2020-01-01'), (2, '2.25', '2020-06-15'), (3, '-4.75', '1998-12-31')) AS t(i, s, dt)
    """,
)
def values_inline_cast(spark, sf_dir):
    """Inline VALUES + CAST surface (reference evidence: INSERT…VALUES with
    date-string literals, datafusion_iceberg/src/table.rs:675-683)."""
    return spark.sql(
        "SELECT i, CAST(s AS DOUBLE) AS v, CAST(CAST(dt AS DATE) AS STRING) AS dt_s "
        "FROM VALUES (1, '1.5', '2020-01-01'), (2, '2.25', '2020-06-15'), (3, '-4.75', '1998-12-31') AS t(i, s, dt)"
    )


@q(
    "crypto_hash_functions",
    """
    SELECT c_custkey, md5(c_name) AS md5_name, sha256(c_name) AS sha256_name
    FROM customer WHERE c_custkey <= 100
    """,
)
def crypto_hash_functions(spark, sf_dir):
    """md5/sha2 scalar functions (reference registers DataFusion
    crypto_expressions, Cargo.toml:31, via context.rs:57)."""
    return (
        _t(spark, sf_dir, "customer")
        .where("c_custkey <= 100")
        .select("c_custkey", F.md5("c_name").alias("md5_name"), F.sha2("c_name", 256).alias("sha256_name"))
    )


@q(
    "intersect_all_except_all",
    """
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def intersect_all_except_all(spark, sf_dir):
    """Multiset (bag) set-op semantics: intersectAll preserves duplicate
    multiplicity, unlike INTERSECT (DataFusion SQL surface via ctx.sql)."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.where("l_returnflag = 'R'").select("l_suppkey")
    a = li.where("l_returnflag = 'A'").select("l_suppkey")
    return r.intersectAll(a)


@q(
    "exists_subquery",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_suppkey = s.s_suppkey
                      AND l2.l_quantity > 49 AND l2.l_discount >= 0.1)
    """,
)
def exists_subquery(spark, sf_dir):
    """EXISTS / NOT EXISTS correlated subqueries (decorrelated by Catalyst
    into semi/anti joins — SURVEY.md §2.3 subquery row)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    s.createOrReplaceTempView("_ex_supplier")
    li.createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM _ex_supplier s
        WHERE EXISTS (SELECT 1 FROM _ex_lineitem l WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
          AND NOT EXISTS (SELECT 1 FROM _ex_lineitem l2 WHERE l2.l_suppkey = s.s_suppkey
                          AND l2.l_quantity > 49 AND l2.l_discount >= 0.1)
        """
    )


def _det_hll_oracle(lgk: int = 10) -> str:
    from iceberg_rust_custom_spark.operators.sketches import det_hll_sql

    f = det_hll_sql("CAST(o_custkey AS STRING)", lgk)
    return f"""
    WITH hashed AS (
      SELECT o_orderstatus, {f["reg"]} AS _reg, {f["rho"]} AS _rho
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    regs AS (
      SELECT o_orderstatus, _reg, MAX(_rho) AS _m FROM hashed GROUP BY 1, 2
    ),
    g AS (
      SELECT o_orderstatus,
             SUM(CAST(pow(2, {f["B"] + 1} - _m) AS BIGINT)) AS _s,
             COUNT(*) AS _p
      FROM regs GROUP BY 1
    )
    SELECT o_orderstatus, {f["estimate"]} AS approx_distinct FROM g
    """


@q("deterministic_hll_distinct", _det_hll_oracle(10))
def deterministic_hll_distinct(spark, sf_dir):
    """Approximate COUNT(DISTINCT) whose estimate is CROSS-ENGINE
    BIT-EXACT (operators/sketches.py::det_hll_distinct): md5-derived
    registers, integer rank and harmonic sum, one final division — so even
    the approximate aggregate family hash-matches the DuckDB oracle
    (DataSketches HLL estimates are engine-internal; this one is a pure
    function of the data)."""
    return SK.det_hll_distinct(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_custkey", lgk=10
    )


@q("approx_aggregates")  # rows-only: HLL / quantile sketches are engine-specific by design
def approx_aggregates(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) and percentile_approx (KLL-ish)
    — the scale path for distincts/quantiles at 100 TB where exact
    COUNT(DISTINCT) would shuffle every key. Sketch values are
    engine-specific, so the driver records the rows-only check."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_partkeys"),
        F.percentile_approx("l_quantity", 0.5).alias("approx_median_qty"),
        F.percentile_approx("l_extendedprice", [0.25, 0.75]).alias("approx_price_quartiles"),
    )


@q("mergeable_sketch_rollup")  # rows-only: DataSketches binaries are engine-specific
def mergeable_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup (operators/sketches.py): per-(flag, status)
    HLL partials union up to per-flag distinct-part estimates WITHOUT
    re-scanning raw data — the algebra that makes incremental and
    hierarchical distinct counting O(sketch) instead of O(data)."""
    from iceberg_rust_custom_spark.operators import sketches as SK

    li = _t(spark, sf_dir, "lineitem")
    partials = SK.hll_partials(li, ["l_returnflag", "l_linestatus"], "l_partkey")
    return SK.hll_merge_estimate(partials, ["l_returnflag"])


# =========================================================================
# §2.2 time travel + incremental read through the engine
# =========================================================================


def _two_append_orders(spark, sf_dir):
    """Orders table built with two appends (evens then odds) so snapshots
    and sequence numbers are deterministic."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:tt".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_tt"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_tt", df.schema)
        t.append(df.where(F.col("o_orderkey") % 2 == 0))
        t.append(df.where(F.col("o_orderkey") % 2 == 1))
    return eng.load_table("rt.orders_tt")


@q(
    "iceberg_time_travel",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
    """,
)
def iceberg_time_travel(spark, sf_dir):
    """scan(snapshot_id=first) must see exactly the first append —
    snapshot resolution per iceberg-rust-spec/src/spec/snapshot.rs:22-48."""
    t = _two_append_orders(spark, sf_dir)
    first = min(t.metadata.snapshots.values(), key=lambda s: s.sequence_number)
    return (
        t.scan(snapshot_id=first.snapshot_id)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "iceberg_incremental_read",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderstatus
    """,
)
def iceberg_incremental_read(spark, sf_dir):
    """incremental_scan(from_seq) returns only files committed after that
    sequence number — the MV-delta primitive (table/mod.rs:120-144)."""
    t = _two_append_orders(spark, sf_dir)
    first_seq = min(s.sequence_number for s in t.metadata.snapshots.values())
    return (
        t.incremental_scan(first_seq)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


# =========================================================================
# multimodal plumbing (binary payload columns; decode stubbed — the
# deterministic fake path keeps schema/partitioning/batch shape real)
# =========================================================================


@q(
    "multimodal_image_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           ROUND(CAST(list_sum(list_transform(split(substr(text, 1, 64), ''), c -> unicode(c))) AS DOUBLE)
                 / LEAST(octet_length(encode(text)), 64), 6) AS px_mean
    FROM documents
    """,
)
def multimodal_image_features(spark, sf_dir):
    """Binary-column feature extraction via Arrow-batched mapInPandas; the
    payload is the utf-8 encoding of document text (pure-ASCII corpus), so
    the byte-level fake decode is exactly reproducible in SQL."""
    from iceberg_rust_custom_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload"))
    feats = M.extract_image_features(media, fake=True)
    return feats.select("media_id", "n_bytes", F.round("px_mean", 6).alias("px_mean"))


@q(
    "multimodal_frame_sampling",
    """
    SELECT media_id, frame_idx, frame_idx * 1000 AS frame_ts_ms
    FROM (SELECT doc_id AS media_id,
                 unnest(generate_series(0, CAST(doc_id % 10 AS BIGINT))) AS frame_idx
          FROM documents)
    """,
)
def multimodal_frame_sampling(spark, sf_dir):
    """Video frame sampling plumbing: one row per sampled frame, exploded
    from a synthetic duration ((doc_id % 10) + 1 seconds) at 1 fps."""
    from iceberg_rust_custom_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        ((F.col("doc_id") % 10 + 1) * 1000).cast("long").alias("duration_ms"),
    )
    return M.sample_video_frames(media, every_ms=1000, fake=True)


@q(
    "iceberg_delete_where",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
    """,
)
def iceberg_delete_where(spark, sf_dir):
    """Copy-on-write DELETE (our completion of the reference's unimplemented
    delete, README.md:22-46): files whose stats exclude the predicate are
    carried over untouched; only matching files rewrite."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:del".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_del"):
        df = _t(spark, sf_dir, "orders")
        eng.create_table("rt.orders_del", df.schema).append(df)
        eng.sql("DELETE FROM rt.orders_del WHERE o_orderstatus = 'F'")
    return (
        eng.load_table("rt.orders_del")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "csv_source_agg",
    """
    SELECT r_regionkey, r_name FROM region
    """,
)
def csv_source_agg(spark, sf_dir):
    """CSV source parity (reference loads TPC-H from CSV,
    examples/insert_csv.rs:46-73): parquet → csv once per sf (cache), then a
    schema-explicit distributed CSV read must round-trip the values."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.sources import read_csv

    cache_dir = os.path.join(
        "/tmp", "iceberg_rust_custom_spark_cache", hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    # own subdir: the cache root doubles as a parquet streaming source in
    # tests — a stray .csv there would break schema-uniform directory reads
    out = os.path.join(cache_dir, "csv", "region.csv")
    if not os.path.exists(out):
        import pyarrow.parquet as pq

        os.makedirs(os.path.dirname(out), exist_ok=True)
        t = pq.read_table(f"{sf_dir}/region.parquet", columns=["r_regionkey", "r_name"])
        pdf = t.to_pandas()
        tmp = out + ".tmp"
        pdf.to_csv(tmp, index=False, header=False)
        os.replace(tmp, out)
    return read_csv(spark, out, "r_regionkey INT, r_name STRING")


@q(
    "iceberg_merge_upsert",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 <> 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice * 2 AS price FROM orders WHERE o_orderkey % 100 = 0
    ) GROUP BY o_orderstatus
    """,
)
def iceberg_merge_upsert(spark, sf_dir):
    """MERGE/upsert through the engine (beyond-reference row-level op):
    every 100th order gets its price doubled via merge; the final table
    must equal the SQL-reconstructed post-merge state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import merge_upsert

    tag = hashlib.md5(f"{sf_dir}:mrg".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_mrg"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_mrg", df.schema)
        t.append(df)
        src = df.where(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        merge_upsert(t, src, ["o_orderkey"])
    return (
        eng.load_table("rt.orders_mrg")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "simhash_neardup_pairs",
    f"""
    WITH fp AS ({_simhash_oracle(32)})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup_pairs(spark, sf_dir):
    """SimHash near-dup: pigeonhole banding makes candidates an equality
    bucket join (one shuffle); only candidates pay hamming verification.
    The exact all-pairs oracle confirms the banding loses nothing."""
    return D.simhash_neardup_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=32, max_hamming=3)


@q(
    "document_chunking",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
      FROM documents
    ), chunks AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0, CAST(greatest(ceil((len(toks) - 8) / 56.0), 1) AS BIGINT) - 1)) AS chunk_idx
      FROM tok
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(toks[chunk_idx * 56 + 1 : chunk_idx * 56 + 64], ' ') AS chunk_text,
           CAST(LEAST(n - chunk_idx * 56, 64) AS INT) AS n_tokens
    FROM chunks
    WHERE LEAST(n - chunk_idx * 56, 64) > 0
    """,
)
def document_chunking(spark, sf_dir):
    """Token-window chunking with overlap (chunk=64, overlap=8) — the
    standard LLM pre-tokenization fan-out, one row per chunk."""
    return TX.chunk_documents(_t(spark, sf_dir, "documents"), "doc_id", "text", chunk_tokens=64, overlap=8)


@q(
    "text_redaction",
    """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<email>', 'g'),
             '\\b[0-9]{7,}\\b', '<long_number>', 'g') AS redacted
    FROM documents
    """,
)
def text_redaction(spark, sf_dir):
    """Deterministic PII-style span redaction (emails, long digit runs) —
    chained regexp_replace at scan speed."""
    return TX.redact_text(_t(spark, sf_dir, "documents"), "text").select("doc_id", "redacted")


@q(
    "iceberg_partition_evolution",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderstatus
    """,
)
def iceberg_partition_evolution(spark, sf_dir):
    """Partition evolution round trip: half the orders land unpartitioned,
    the spec evolves to month(o_orderdate), the other half lands
    partitioned; one scan reads across both layouts (per-manifest spec
    decoding) and must equal plain SQL over the source."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:pevo".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_pevo"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_pevo", df.schema)
        t.append(df.where(F.col("o_orderkey") % 2 == 0))
        t.update_partition_spec("month(o_orderdate)")
        t.append(df.where(F.col("o_orderkey") % 2 == 1))
    return (
        eng.load_table("rt.orders_pevo")
        .scan("o_orderdate >= '1997-01-01'")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("sum_price"))
    )


@q(
    "iceberg_incremental_mv_refresh",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(
               CASE WHEN o_orderkey % 1000 = 0 THEN o_totalprice + 1000
                    ELSE o_totalprice END AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_incremental_mv_refresh(spark, sf_dir):
    """Incremental MV maintenance (unimplemented in the reference —
    README.md:22-46, __delta__ placeholders materialized_view.rs:147-159):
    the MV is built over half the orders, the rest lands later, and refresh
    folds ONLY the delta in by partial-aggregate merge; then (r8) a MoR
    UPDATE lands and refresh maintains the MV through the row-level
    CHANGELOG — recomputing only the affected groups — instead of a full
    recompute. Result must equal a full recompute (the oracle applies the
    same update arithmetic). The DECIMAL-rounded SUM commutes because each
    refresh re-derives sum_price from exact partials before the final
    cast."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import update_where

    tag = hashlib.md5(f"{sf_dir}:incmv2".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_inc"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_inc", df.schema)
        t.append(df.where(F.col("o_orderkey") % 2 == 0))
        eng.create_materialized_view(
            "rt.orders_inc_mv",
            "SELECT o_orderstatus, COUNT(*) AS n, "
            "SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS raw_sum "
            "FROM rt.orders_inc GROUP BY o_orderstatus",
        )
        t.append(df.where(F.col("o_orderkey") % 2 == 1))
        mode = eng.refresh_materialized_view("rt.orders_inc_mv")
        assert mode == "incremental-aggregate", mode
        update_where(
            t,
            {"o_totalprice": "o_totalprice + 1000"},
            "o_orderkey % 1000 = 0",
            mode="merge-on-read",
        )
        mode = eng.refresh_materialized_view("rt.orders_inc_mv")
        assert mode == "incremental-changelog-aggregate", mode
    return eng.scan_materialized_view("rt.orders_inc_mv").select(
        "o_orderstatus", "n", F.round(F.col("raw_sum"), 4).cast("double").alias("sum_price")
    )


@q(
    "iceberg_incremental_mv_join",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000
    """,
)
def iceberg_incremental_mv_join(spark, sf_dir):
    """Incremental JOIN-view maintenance (engine.py::_incremental_joinN_refresh):
    the MV is an orders⋈customer join built over half the orders and half
    the customers; the rest of both tables lands later and refresh applies
    the delta-join identity ΔA⋈B_new ∪ A_old⋈ΔB as an APPEND. The oracle is
    the full recompute — they must agree exactly."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:incjoinmv".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_j"):
        odf = _t(spark, sf_dir, "orders")
        cdf = _t(spark, sf_dir, "customer")
        to = eng.create_table("rt.ord_j", odf.schema)
        tc = eng.create_table("rt.cust_j", cdf.schema)
        to.append(odf.where(F.col("o_orderkey") % 2 == 0))
        tc.append(cdf.where(F.col("c_custkey") % 2 == 0))
        eng.create_materialized_view(
            "rt.ord_cust_mv",
            "SELECT o.o_orderkey, c.c_name, o.o_totalprice "
            "FROM rt.ord_j o JOIN rt.cust_j c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_totalprice > 100000",
        )
        to.append(odf.where(F.col("o_orderkey") % 2 == 1))
        tc.append(cdf.where(F.col("c_custkey") % 2 == 1))
        mode = eng.refresh_materialized_view("rt.ord_cust_mv")
        assert mode == "incremental-join", mode
    return eng.scan_materialized_view("rt.ord_cust_mv")


@q(
    "iceberg_mor_delete",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE NOT (l_quantity < 10) GROUP BY l_returnflag
    """,
)
def iceberg_mor_delete(spark, sf_dir):
    """Merge-on-read DELETE: position-delete tombstones + scan-side anti
    join, no data-file rewrite — delete cost tracks rows deleted, not bytes
    resident (the 100 TB cost model; reference leaves delete unimplemented,
    README.md:22-46)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:mordel".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_mor"):
        df = _t(spark, sf_dir, "lineitem")
        t = eng.create_table("rt.li_mor", df.schema)
        t.append(df)
        delete_where(t, "l_quantity < 10", mode="merge-on-read")
    return (
        eng.load_table("rt.li_mor")
        .scan()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "iceberg_mor_merge_upsert",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT o_orderstatus, o_totalprice AS price FROM orders WHERE o_orderkey % 100 <> 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice * 2 AS price FROM orders WHERE o_orderkey % 100 = 0
    ) GROUP BY o_orderstatus
    """,
)
def iceberg_mor_merge_upsert(spark, sf_dir):
    """Merge-on-read MERGE: matched rows are tombstoned (position deletes),
    the source appends — no target file rewritten; merge cost tracks source
    size, the streaming-upsert cost model at 100 TB. Same post-merge state
    as the copy-on-write flavor."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import merge_upsert

    tag = hashlib.md5(f"{sf_dir}:mormrg".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_mormrg"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_mormrg", df.schema)
        t.append(df)
        src = df.where(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        merge_upsert(t, src, ["o_orderkey"], mode="merge-on-read")
    return (
        eng.load_table("rt.orders_mormrg")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "multimodal_audio_features",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(CEIL(((doc_id % 10 + 1) * 1000) / 20.0) AS BIGINT) AS n_frames,
           octet_length(encode(text)) / CAST((doc_id % 10 + 1) * 1000 AS DOUBLE) AS byte_rate
    FROM documents
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """Audio-modality plumbing: binary payload + duration metadata through
    Arrow-batched mapInPandas (decode stubbed — deterministic byte-derived
    fake, exactly reproducible in SQL over the utf-8 payload)."""
    from iceberg_rust_custom_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        ((F.col("doc_id") % 10 + 1) * 1000).cast("long").alias("duration_ms"),
    )
    # `decoded` (always False for this fake-path corpus) is dropped to keep
    # the gate's oracle-matched schema
    return M.extract_audio_features(media, frame_ms=20, fake=True).select(
        "media_id", "n_bytes", "n_frames", "byte_rate"
    )


@q(
    "iceberg_cdc_changes",
    """
    SELECT o_orderkey, o_orderstatus, 'insert' AS _change_type FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'delete' AS _change_type FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def iceberg_cdc_changes(spark, sf_dir):
    """CDC changelog scan: every append surfaces as 'insert' rows, every
    merge-on-read tombstone as 'delete' rows with full row content —
    feeds incremental consumers without re-reading the table (beyond the
    reference: no CDC there)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:cdc".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_cdc"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_cdc", df.schema)
        t.append(df)
        delete_where(t, "o_orderstatus = 'F'", mode="merge-on-read")
    return (
        eng.load_table("rt.orders_cdc")
        .changes(0)
        .select("o_orderkey", "o_orderstatus", "_change_type")
    )


@q(
    "iceberg_streaming_cdc_source",
    """
    SELECT o_orderkey, o_custkey, 'insert' AS _change_type FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, 'delete' AS _change_type FROM orders
    WHERE o_orderkey % 9 = 0 OR o_orderkey % 13 = 0
    """,
)
def iceberg_streaming_cdc_source(spark, sf_dir):
    """r8: the table's commit log as a Structured Streaming source
    (streaming/cdc_source.py — PySpark 4 Python DataSource API, format
    'iceberg_custom_cdc'). Offsets are sequence numbers checkpointed by
    the query; the driver plans per-file partitions (tombstones decoded
    to position lists, pre-range dead rows suppressed) and executors read
    parquet via Arrow. The gate exercises the BATCH flavor of the same
    reader (identical partitions + read path, one shot over the full
    log); the streaming flavor's availableNow/resume behavior is pinned
    in tests/test_cdc_source.py."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.streaming.cdc_source import register_cdc_source
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:cdcsrc".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_feed"):
        df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        t = eng.create_table("rt.orders_feed", df.schema)
        t.append(df)
        delete_where(t, "o_orderkey % 9 = 0", mode="merge-on-read")
        # r8: an equality delete in the log too — victims key-join
        # executor-side; a row hit by both kinds emits ONE delete event
        from iceberg_rust_custom_spark.table.maintenance import delete_by_key

        delete_by_key(
            t, df.where(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
        )
    fmt = register_cdc_source(spark)
    return (
        spark.read.format(fmt)
        .option("warehouse", wh)
        .option("table", "rt.orders_feed")
        .load()
        .select("o_orderkey", "o_custkey", "_change_type")
    )


@q(
    "iceberg_geometry_roundtrip",
    """
    SELECT CASE o_orderkey % 4 WHEN 0 THEN '010100000000000000000000000000000000000000' WHEN 1 THEN '01010000000000000000000840000000000000F0BF' WHEN 2 THEN '0101000000000000000000184000000000000000C0' WHEN 3 THEN '0101000000000000000000224000000000000008C0' END AS wkb_hex,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def iceberg_geometry_roundtrip(spark, sf_dir):
    """r8: Iceberg v3 geometry columns (the last v3 type family) — logical
    Spark 4 GeometryType, physical WKB binary (metadata/schema.py), decode
    at scan via st_geomfromwkb + st_setsrid, encode at write via
    st_asbinary. The gate drives the full path on real data: WKB point
    templates keyed by o_orderkey flow INTO a geometry column and back out
    as hex — values (not just counts) hash-match the oracle, proving the
    bytes survive the logical/physical boundary both ways."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    templates = ['010100000000000000000000000000000000000000', '01010000000000000000000840000000000000F0BF', '0101000000000000000000184000000000000000C0', '0101000000000000000000224000000000000008C0']
    tag = hashlib.md5(f"{sf_dir}:geo".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_geo"):
        df = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.unhex(
                F.element_at(
                    F.array(*[F.lit(h) for h in templates]),
                    (F.col("o_orderkey") % 4 + 1).cast("int"),
                )
            ).alias("g"),
        )
        eng.sql("CREATE TABLE rt.orders_geo (o_orderkey BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG")
        eng.load_table("rt.orders_geo").append(df)
    return (
        eng.load_table("rt.orders_geo")
        .scan()
        .select(F.hex(F.st_asbinary("g")).alias("wkb_hex"))
        .groupBy("wkb_hex")
        .agg(F.count("*").alias("n"))
    )


@q(
    "iceberg_cdc_equality_delete",
    """
    SELECT o_orderkey, o_orderstatus, 'delete' AS _change_type FROM orders
    WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'insert' AS _change_type FROM orders
    WHERE o_orderkey % 11 = 0 AND o_orderkey % 2 = 0
    """,
)
def iceberg_cdc_equality_delete(spark, sf_dir):
    """r8: equality deletes in the changelog. ``delete_by_key`` commits in
    the range yield the deleted rows' full content as 'delete' events —
    victims computed by the scan's sequence-gated key join against the
    strictly-older live file set (previously refused with ValueError); a
    key RE-INSERTED after the delete surfaces as a plain 'insert' and is
    not a victim (sequence gating)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_by_key

    tag = hashlib.md5(f"{sf_dir}:cdceq".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_cdceq"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_cdceq", df.schema)
        t.append(df)
        delete_by_key(
            t, df.where(F.col("o_orderkey") % 11 == 0).select("o_orderkey")
        )
        # re-insert the even half of the deleted keys AFTER the delete:
        # they must replay as inserts, not victims
        t.append(df.where((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 2 == 0)))
    t = eng.load_table("rt.orders_cdceq")
    # the anchor is the sequence number of the initial bulk append: snapshot
    # 1 in this table's linear history
    snaps = sorted(t.metadata.snapshots.values(), key=lambda s: s.sequence_number)
    anchor = snaps[0].sequence_number
    return t.changes(anchor).select("o_orderkey", "o_orderstatus", "_change_type")


@q(
    "iceberg_equality_delete",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY o_orderstatus
    """,
)
def iceberg_equality_delete(spark, sf_dir):
    """Equality delete (content=2): delete-by-key writes ONLY the key set —
    no data file is read or rewritten; scans anti-join keys against older
    data (re-inserted keys survive by sequence ordering). The streaming-CDC
    tombstone primitive at 100 TB: cost is O(keys), not O(table)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_by_key

    tag = hashlib.md5(f"{sf_dir}:eqdel".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_eq"):
        df = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.orders_eq", df.schema)
        t.append(df)
        delete_by_key(
            t, df.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
        )
    return (
        eng.load_table("rt.orders_eq")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "vocabulary_topk",
    f"""
    SELECT token, n FROM (
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest({_TOKS_SQL}) AS token FROM documents
      ) GROUP BY token
    ) ORDER BY n DESC, token ASC LIMIT 500
    """,
)
def vocabulary_topk(spark, sf_dir):
    """Top-500 corpus tokens with counts (tokenizer/stopword mining):
    explode + map-side-combined count + TakeOrderedAndProject top-k."""
    return TX.vocabulary(_t(spark, sf_dir, "documents"), "text", top_k=500)


_CMS_PARAMS = minhash_params(4, seed=0xC0FFEE)
_CMS_H = md5h32_sql("term")
_CMS_SKETCH_SQL = "\n      UNION ALL ".join(
    f"SELECT {d} AS d, CAST({affine_hash_sql(_CMS_H, a, b)} % 256 AS INT) AS bucket, COUNT(*) AS cnt "
    f"FROM toks GROUP BY 1, 2"
    for d, (a, b) in enumerate(_CMS_PARAMS)
)
_CMS_PROBES_SQL = "\n      UNION ALL ".join(
    f"SELECT term, exact_n, {d} AS d, CAST({affine_hash_sql(_CMS_H, a, b)} % 256 AS INT) AS bucket FROM exact"
    for d, (a, b) in enumerate(_CMS_PARAMS)
)


@q(
    "cms_frequent_terms",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS term
      FROM documents),
    exact AS (
      SELECT term, COUNT(*) AS exact_n FROM toks GROUP BY term
      ORDER BY exact_n DESC, term LIMIT 20),
    cms AS (
      {_CMS_SKETCH_SQL}),
    probes AS (
      {_CMS_PROBES_SQL})
    SELECT term, exact_n, MIN(COALESCE(cnt, 0)) AS cms_count
    FROM probes LEFT JOIN cms USING (d, bucket)
    GROUP BY term, exact_n
    """,
)
def cms_frequent_terms(spark, sf_dir):
    """Count-min sketch heavy hitters, EXACTLY verified: the CMS counters
    use the engine's md5-affine hash family, so Spark's sketch and the
    DuckDB oracle's agree cell-for-cell — the driver hash-matches a SKETCH
    estimate, not just an exact aggregate (operators/sketches.py:cms_table).
    Scale shape: the sketch is depth*width counters regardless of corpus
    size, mergeable by addition across shards/snapshots; estimation is a
    broadcast join against 1024 rows."""
    from iceberg_rust_custom_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("term"))
    sketch = SK.cms_table(toks, "term")
    exact = (
        toks.groupBy("term")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("term"))
        .limit(20)
    )
    est = SK.cms_estimate(sketch, exact.select("term"), "term")
    return exact.join(est, "term").select("term", "exact_n", F.col("cms_count"))


@q(
    "dsir_importance_select",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
    ), raw AS (
      SELECT w, COUNT(*) AS rcnt FROM toks GROUP BY w
    ), vocab AS (
      SELECT w, rcnt FROM raw
      QUALIFY row_number() OVER (ORDER BY rcnt DESC, w ASC) <= 2000
    ), tgt AS (
      SELECT t.w, COUNT(*) AS tcnt FROM toks t
      JOIN documents d USING (doc_id) WHERE d.source = 'src0' GROUP BY t.w
    ), tab AS (
      SELECT v.w, v.rcnt, COALESCE(tg.tcnt, 0) AS tcnt
      FROM vocab v LEFT JOIN tgt tg USING (w)
    ), consts AS (
      SELECT SUM(rcnt) AS R, SUM(tcnt) AS T, COUNT(*) AS V FROM tab
    ), lr AS (
      SELECT w, ln((tcnt + 1.0) / (rcnt + 1.0)) + ln((R + V) * 1.0 / (T + V)) AS _lr
      FROM tab CROSS JOIN consts
    ), scored AS (
      SELECT t.doc_id, round(SUM(_lr), 4) AS dsir_score
      FROM toks t
      JOIN documents d USING (doc_id)
      JOIN lr USING (w)
      WHERE d.source <> 'src0'
      GROUP BY t.doc_id
    )
    SELECT doc_id, dsir_score FROM scored
    QUALIFY row_number() OVER (ORDER BY dsir_score DESC, doc_id ASC) <= 50
    """,
)
def dsir_importance_select(spark, sf_dir):
    """DSIR importance-weighted data selection (Xie et al. 2023, public
    method; word unigrams for engine portability): rank the non-target
    pool by sum of smoothed target/raw log-likelihood ratios over its
    tokens, keep the top 50. Vocabulary bounded to the 2000 most frequent
    corpus words (count DESC, word ASC) so the per-word ratio table stays
    broadcast-sized at any corpus scale."""
    return TX.dsir_select(
        _t(spark, sf_dir, "documents"),
        "source = 'src0'",
        top_k=50,
        vocab_cap=2000,
    )


@q(
    "tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
      ) GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, doc_freq,
           round(tf * ln(n_docs / doc_freq), 4) AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) <= 5
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document top-5 TF-IDF terms; integer-deterministic rank order,
    4-dp rounding absorbs libm ln ulps across engines."""
    return TX.tfidf_top_terms(_t(spark, sf_dir, "documents"), "doc_id", "text", top_k=5)


@q(
    "bm25_scores",
    f"""
    WITH dl AS (
      SELECT doc_id, len({_TOKS_SQL}) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
      ) WHERE term IN ('hash', 'merge', 'spark', 'table')
      GROUP BY doc_id, term
    ), dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term)
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * tf * 2.2
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
    FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 50
    """,
)
def bm25_scores(spark, sf_dir):
    """BM25 top-50 docs for a fixed query-term set (k1=1.2, b=0.75);
    filter-before-shuffle tf aggregate, broadcast df/avgdl scalars."""
    return TX.bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "table", "hash", "merge"], "doc_id", "text"
    )


@q(
    "benchmark_decontamination",
    f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_SHINGLES_SQL}) AS shingle
      FROM documents WHERE doc_id % 50 = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
      ) c WHERE c.shingle <> '' AND c.shingle IN (SELECT shingle FROM bench WHERE shingle <> '')
    )
    SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def benchmark_decontamination(spark, sf_dir):
    """Eval-leakage guard: drop corpus docs sharing any 3-gram with a
    simulated benchmark set (every 50th doc); broadcast benchmark shingle
    join → anti-join, never corpus²."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return TX.decontaminate(docs, bench, "doc_id", "text", shingle_n=3).select("doc_id")


@q(
    "embedding_quantize_int8",
    """
    SELECT vec_id,
           CAST(list_min(embedding) AS DOUBLE) AS lo,
           CAST(list_max(embedding) AS DOUBLE) AS hi,
           array_to_string(list_transform(embedding, x -> CAST(round(
             (x - list_min(embedding)) /
             (CASE WHEN list_max(embedding) <> list_min(embedding)
                   THEN list_max(embedding) - list_min(embedding) ELSE 1.0 END) * 255) - 128 AS INT)), ',') AS q
    FROM embeddings
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Per-vector int8 quantization (4× footprint shrink before ANN) —
    pure array expressions, value-exact against the SQL oracle. The gate
    emits the quantized vector as a comma-joined string (the driver's
    canonicalizer can't hash list columns); pytest covers the raw array."""
    out = S.quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return out.select("vec_id", "lo", "hi", F.array_join("q", ",").alias("q"))


def _jl_oracle(out_dim: int = 16, dim: int = 64, seed: int = 11) -> str:
    # replicate the operator's seeded plane generation and spell the dot
    # products as explicit LEFT-TO-RIGHT sums — the same fold order Spark's
    # F.aggregate uses, so the doubles match bit-for-bit before rounding
    import random as _random

    rng = _random.Random(seed)
    planes = [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(out_dim)]
    inv = 1.0 / (out_dim ** 0.5)
    comps = []
    for plane in planes:
        terms = " + ".join(f"CAST(embedding[{i + 1}] AS DOUBLE) * {w!r}" for i, w in enumerate(plane))
        comps.append(f"({terms}) * {inv!r}")
    # long format (scalar columns): parallel unnests zip index and value
    return f"""
    WITH p AS (SELECT vec_id, [{', '.join(comps)}] AS proj FROM embeddings)
    SELECT vec_id, unnest(generate_series(1, {out_dim})) AS j,
           unnest(proj) AS component
    FROM p
    """


@q("embedding_random_projection", _jl_oracle(16, 64, 11))
def embedding_random_projection(spark, sf_dir):
    """JL random projection 64→16 dims: ±1 plane matmul as codegen'd array
    aggregates, deterministic seed, zero shuffle. The seeded planes and
    left-to-right fold make even this float computation ORACLE-EXACT —
    DuckDB replays the identical arithmetic (long format: one row per
    (vector, component))."""
    out = S.random_projection(_t(spark, sf_dir, "embeddings"), out_dim=16)
    # no rounding: the fold order is pinned on both sides, so the raw
    # doubles are bit-identical (ROUND itself diverges at half-ulp
    # midpoints: Spark HALF_UP vs DuckDB HALF_EVEN)
    return out.select("vec_id", F.posexplode("projected")).select(
        "vec_id", (F.col("pos") + 1).cast("long").alias("j"), F.col("col").alias("component")
    )


@q(
    "deterministic_hash_sample",
    f"""
    SELECT doc_id FROM documents
    WHERE {{H}} < 1288490188
    """.replace("{H}", "(" + " + ".join(
        f"(instr('0123456789abcdef', substr(md5(concat(cast(doc_id AS VARCHAR), 's1')), {i}, 1)) - 1) * CAST({16 ** (8 - i)} AS BIGINT)"
        for i in range(1, 9)
    ) + ")"),
)
def deterministic_hash_sample(spark, sf_dir):
    """30% reproducible sample of documents by key hash — same corpus on
    every run, engine, and partitioning (df.sample() guarantees none of
    those). Scan-speed filter, no shuffle."""
    return TX.hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 0.30, salt="s1").select("doc_id")


def _ngram_lm_oracle(n: int = 3) -> str:
    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    grams = (
        f"list_transform(generate_series(1, greatest(length({norm}) - {n - 1}, 0)), "
        f"i -> substr({norm}, i, {n}))"
    )
    return f"""
    WITH ref_grams AS (
      SELECT unnest({grams}) AS g FROM documents WHERE lang = 'en'
    ),
    counts AS (
      SELECT g, COUNT(*) AS c FROM ref_grams GROUP BY g
    ),
    stats AS (
      SELECT SUM(c) AS _N, COUNT(*) AS _V FROM counts
    ),
    doc_grams AS (
      SELECT doc_id, unnest({grams}) AS g FROM documents
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
           ROUND(AVG(-LN((COALESCE(c.c, 0) + 1) * 1.0 / (s._N + s._V))), 6) AS nll
    FROM doc_grams d
    LEFT JOIN counts c USING (g)
    CROSS JOIN stats s
    GROUP BY doc_id
    """


@q("ngram_lm_quality", _ngram_lm_oracle(3))
def ngram_lm_quality(spark, sf_dir):
    """CCNet-style LM quality scores: every document's avg negative
    log-likelihood of char trigrams under an add-one model trained on the
    English slice (text.py::ngram_lm_scores) — the perplexity-filter stage
    of a curation pipeline, as pure DataFrame ops (the trained model is a
    broadcastable counts table, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.ngram_lm_scores(docs, "doc_id", "text", ref_pred="lang = 'en'")


_MIX_WEIGHTS = {"en": 0.6, "de": 0.2, "fr": 0.2}
_MIX_BUDGET = 6000


def _training_mix_oracle() -> str:
    h = md5h32_sql("concat(cast(doc_id AS STRING), 'mix1')")
    wmap = " ".join(
        f"WHEN '{g}' THEN {_MIX_BUDGET} * {w!r} / {float(sum(_MIX_WEIGHTS.values()))!r}"
        for g, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
    WITH avail AS (
      SELECT lang, CAST(SUM(len({_TOKS_SQL})) AS DOUBLE) AS a
      FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang, LEAST(1.0, (CASE lang {wmap} END) / a) AS mix_rate
      FROM avail WHERE (CASE lang {wmap} END) IS NOT NULL
    )
    SELECT d.doc_id, d.lang, ROUND(r.mix_rate, 6) AS mix_rate
    FROM documents d JOIN rates r USING (lang)
    WHERE {h} < CAST(FLOOR(r.mix_rate * 4294967296.0) AS BIGINT)
    """


@q("training_mix_assembly", _training_mix_oracle())
def training_mix_assembly(spark, sf_dir):
    """Token-budgeted training mix (text.py::training_mix): 60/20/20
    en/de/fr target weights under a 6k-token budget; per-group rates are
    computed inside the plan from measured token supply and rows are kept
    by the reproducible hash rule — same corpus on any cluster size."""
    docs = _t(spark, sf_dir, "documents").withColumn("n_tokens", TX.token_count(F.col("text")))
    out = TX.training_mix(
        docs, "doc_id", "lang", _MIX_WEIGHTS, _MIX_BUDGET, token_col="n_tokens", salt="mix1"
    )
    return out.select("doc_id", "lang", F.round("mix_rate", 6).alias("mix_rate"))


@q(
    "source_quota_cap",
    """
    SELECT doc_id, source, quota_rank FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
             ) AS INT) AS quota_rank
      FROM documents
    ) WHERE quota_rank <= 40
    """,
)
def source_quota_cap(spark, sf_dir):
    """Anti-domination curation: cap every source domain to its 40 longest
    documents (text.py::quota_cap). Skew-proof two-level top-k — a hot
    crawl domain becomes |salt| parallel reducers, not one straggler task."""
    return TX.quota_cap(
        _t(spark, sf_dir, "documents"), "source", "doc_id", 40, score_col="n_chars"
    ).select("doc_id", "source", "quota_rank")


_SHARD_H = md5h32_sql("concat(cast(doc_id AS STRING), 'shardep1')")
_MIX_H = md5h32_sql("concat(cast(doc_id AS STRING), 'mixep1')")


@q(
    "training_shard_assignment",
    f"""
    SELECT doc_id,
           CAST({_SHARD_H} % 8 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST({_SHARD_H} % 8 AS INT)
             ORDER BY {_MIX_H}, doc_id) AS INT) AS pos
    FROM documents
    """,
)
def training_shard_assignment(spark, sf_dir):
    """Deterministic global shuffle into 8 training shards
    (text.py::training_shards): (shard, pos) depend only on (doc_id, salt),
    so the training order is bit-reproducible on any engine or cluster
    size; re-salting re-mixes the corpus per epoch with zero data
    movement."""
    return TX.training_shards(_t(spark, sf_dir, "documents"), "doc_id", 8, salt="ep1").select(
        "doc_id", "shard", "pos"
    )


@q(
    "sequence_packing",
    f"""
    WITH sharded AS (
      SELECT doc_id,
             CAST({_SHARD_H} % 8 AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST({_SHARD_H} % 8 AS INT)
               ORDER BY {_MIX_H}, doc_id) AS INT) AS pos,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS INT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, pos, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
             AS start_offset,
           CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048)
             AS BIGINT) AS seq_index
    FROM sharded
    """,
)
def sequence_packing(spark, sf_dir):
    """GPT-style concat-and-chunk packing (text.py::pack_training_sequences)
    composed with the deterministic shard shuffle: every document's exact
    token offset and 2048-token sequence index in the training stream,
    reproducible on any cluster."""
    d = _t(spark, sf_dir, "documents")
    sharded = TX.training_shards(d, "doc_id", 8, salt="ep1").withColumn(
        "n_tokens", TX.token_count(F.col("text"))
    )
    return TX.pack_training_sequences(sharded, "shard", "pos", "n_tokens", 2048).select(
        "doc_id", "shard", "pos", "n_tokens", "start_offset", "seq_index"
    )


# =========================================================================
# TPC-H analogue suite (Q3-Q22 shapes adapted to the synthetic schema).
# The reference answers arbitrary multi-relation SQL through DataFusion
# (SURVEY.md §2.3; datafusion-iceberg-sql/src/context.rs:55-58 registers the
# full function registry; materialized_view.rs:44-56 resolves multi-table
# SQL) — these queries are the combined-operator evidence for that surface:
# join trees, decorrelated EXISTS/NOT EXISTS/IN/NOT IN, HAVING over exact
# decimal sums, CTEs, top-k with deterministic tie-breaks.
# Missing TPC-H columns (partsupp, l_shipmode, l_commitdate, c_phone) are
# adapted to available ones; thresholds re-calibrated for the synthetic
# distributions so each query keeps non-trivial selectivity.
# =========================================================================


def _tpch_views(spark, sf_dir, *names):
    for t in names:
        _t(spark, sf_dir, t).createOrReplaceTempView(f"_tpch_{t}")


@q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand, s.s_suppkey
    FROM part p
    JOIN ps ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
      AND ps.supplycost = (
        SELECT MIN(ps2.supplycost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 20
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: min-cost supplier per part within a region, via a
    correlated scalar subquery (Catalyst decorrelates it to an aggregate +
    self-join). No partsupp table in the synthetic schema, so the
    part-supplier cost relation is derived from lineitem
    (MIN(l_extendedprice/l_quantity) per (partkey, suppkey)) — double
    division is IEEE-identical across engines, so the equality predicate on
    supplycost is portable. Evidence for the reference's arbitrary
    multi-relation SQL surface (datafusion-iceberg-sql/src/context.rs:55-58).
    At scale: part/supplier/nation/region are all dim-sized (broadcast);
    only the ps derivation shuffles lineitem once on (partkey, suppkey)."""
    _tpch_views(spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    # r13: the correlated scalar subquery decorrelated BY HAND to a window
    # MIN — Catalyst's decorrelation planned the EUROPE part-supplier
    # subplan (including the lineitem shuffle behind ps) TWICE, once for
    # the outer join tree and once for the aggregate; the window form
    # computes it once and pays one extra partkey-local sort. Equivalent
    # by construction: outer candidate rows were already restricted to
    # EUROPE suppliers, so the correlated MIN over EUROPE suppliers of the
    # same part is exactly MIN(supplycost) OVER (PARTITION BY l_partkey).
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 MIN(l_extendedprice / l_quantity) AS supplycost
          FROM _tpch_lineitem GROUP BY l_partkey, l_suppkey
        ),
        eu AS (
          SELECT ps.l_partkey, ps.supplycost,
                 s.s_acctbal, s.s_name, s.s_suppkey, n.n_name
          FROM ps
          JOIN _tpch_supplier s ON s.s_suppkey = ps.l_suppkey
          JOIN _tpch_nation n ON s.s_nationkey = n.n_nationkey
          JOIN _tpch_region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'EUROPE'
        )
        SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand, e.s_suppkey
        FROM _tpch_part p
        JOIN (
          SELECT eu.*, MIN(supplycost) OVER (PARTITION BY l_partkey) AS mc FROM eu
        ) e ON p.p_partkey = e.l_partkey AND e.supplycost = e.mc
        WHERE p.p_size = 15
        ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 20
        """
    )


@q(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: unshipped high-revenue orders for one market segment.
    customer is the small side of orders⋈customer (broadcast-eligible);
    the segment filter is pushed to the customer scan."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join
    (l_commitdate/l_receiptdate are absent; returnflag stands in)."""
    _tpch_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM _tpch_orders o
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
          AND o_orderdate < TIMESTAMP_NTZ '1996-04-01'
          AND EXISTS (SELECT 1 FROM _tpch_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
        """
    )


@q(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: revenue from local-supplier orders (customer and supplier
    share a nation) per nation of one region. 6-table join tree: lineitem is
    the only fact; supplier/nation/region broadcast, and the
    customer⋈orders side is filtered by the order-date range before the
    fact join. The c_nationkey = s_nationkey equality rides on the join
    rather than a post-filter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q(
    "q6_revenue_forecast",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-agg; every predicate reaches the parquet
    reader as a pushed filter (scan-bound at any scale, zero shuffle before
    the single-row final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS INT) AS l_year, l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: bidirectional nation-pair trade volume by year. The two
    nation copies broadcast; the disjunctive pair predicate is applied
    post-join (cheap: rows already joined)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN CAST(volume AS DECIMAL(38,10)) ELSE 0 END), 4) AS DOUBLE)
           / CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year, l.l_extendedprice * (1 - l.l_discount) AS volume, n1.n_name AS nation
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8: one nation's share of PROMO-part revenue inside a region —
    a 7-table join tree. Selective filters (p_type, r_name) sit on the
    smallest relations and are broadcast, so the big fact scan joins
    against pre-filtered dims."""
    _tpch_views(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer", "nation", "region"
    )
    return spark.sql(
        """
        SELECT o_year,
               CAST(ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN CAST(volume AS DECIMAL(38,10)) ELSE 0 END), 4) AS DOUBLE)
               / CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4) AS DOUBLE) AS mkt_share
        FROM (
          SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year, l.l_extendedprice * (1 - l.l_discount) AS volume, n1.n_name AS nation
          FROM _tpch_part p JOIN _tpch_lineitem l ON p.p_partkey = l.l_partkey
          JOIN _tpch_supplier s ON s.s_suppkey = l.l_suppkey
          JOIN _tpch_orders o ON o.o_orderkey = l.l_orderkey
          JOIN _tpch_customer c ON c.c_custkey = o.o_custkey
          JOIN _tpch_nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN _tpch_nation n2 ON c.c_nationkey = n2.n_nationkey
          JOIN _tpch_region r ON n2.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        ) all_nations
        GROUP BY o_year
        """
    )


@q(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS profit
    FROM (
      SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice, l.l_discount, p.p_retailprice, l.l_quantity
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%gear%'
    ) profit_src
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and year for parts matched
    by a LIKE pattern (ps_supplycost is absent; 10% of retailprice stands
    in as unit cost)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(profit).alias("profit"))
    )


@q(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name, c.c_mktsegment
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top-20 customers by returned-item revenue in a quarter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@q(
    "q11_important_stock",
    """
    SELECT l.l_partkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS part_value
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_5'
    GROUP BY l.l_partkey
    HAVING CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) AS DOUBLE) >
      0.001 * (SELECT CAST(SUM(CAST(l2.l_extendedprice * (1 - l2.l_discount) AS DECIMAL(38,10))) AS DOUBLE)
               FROM lineitem l2
               JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
               JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
               WHERE n2.n_name = 'NATION_5')
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part value share within one nation's suppliers,
    kept only when above a fraction of the nation total — an ungrouped
    scalar subquery feeding a HAVING threshold. The threshold comparison is
    done on exact DECIMAL(38,10) sums cast to double (identical in both
    engines); the 0.001 multiplier stays in double space. At scale the
    nation filter broadcasts through supplier and prunes lineitem before
    the single groupBy shuffle; the total is a second pass over the same
    pruned fact (Catalyst reuses the exchange when possible)."""
    _tpch_views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(
        """
        SELECT l.l_partkey,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS part_value
        FROM _tpch_lineitem l
        JOIN _tpch_supplier s ON l.l_suppkey = s.s_suppkey
        JOIN _tpch_nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_5'
        GROUP BY l.l_partkey
        HAVING CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) AS DOUBLE) >
          0.001 * (SELECT CAST(SUM(CAST(l2.l_extendedprice * (1 - l2.l_discount) AS DECIMAL(38,10))) AS DOUBLE)
                   FROM _tpch_lineitem l2
                   JOIN _tpch_supplier s2 ON l2.l_suppkey = s2.s_suppkey
                   JOIN _tpch_nation n2 ON s2.s_nationkey = n2.n_nationkey
                   WHERE n2.n_name = 'NATION_5')
        """
    )


@q(
    "q12_priority_by_returnflag",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_by_returnflag(spark, sf_dir):
    """TPC-H Q12 shape: conditional-aggregation pivot of order priority
    counts (l_shipmode is absent; l_returnflag stands in as the mode
    column). The CASE arms run inside the partial aggregate, so the join
    output never materializes a wide intermediate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: order-count histogram over a filtered LEFT JOIN (the join
    predicate carries the filter, so customers with only excluded orders
    still count at 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(
            o, (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@q(
    "q14_promo_effect",
    """
    SELECT 100.0 * CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO' THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10)) ELSE 0 END), 4) AS DOUBLE)
           / CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14: promo revenue share in one month; part broadcasts."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * _dsum(promo) / _dsum(vol)).alias("promo_revenue"))
    )


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: CTE + scalar-subquery max (equality on the bit-identical
    rounded-decimal revenue, so the max-match is portable)."""
    _tpch_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_revenue
          FROM _tpch_lineitem
          WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01' AND l_shipdate < TIMESTAMP_NTZ '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM _tpch_supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


@q(
    "q16_parts_supplier_relationship",
    """
    SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_parts_supplier_relationship(spark, sf_dir):
    """TPC-H Q16: COUNT(DISTINCT) + null-aware NOT IN anti-join."""
    _tpch_views(spark, sf_dir, "part", "lineitem", "supplier")
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM _tpch_part p JOIN _tpch_lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM _tpch_supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        """
    )


@q(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, COUNT(*) AS cnt, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * a.cnt < a.sum_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: below-20%-of-average-quantity revenue. The correlated avg
    is a self-join against per-part aggregates; the `qty < 0.2*avg`
    threshold is evaluated EXACTLY as `qty*5*cnt < sum` in decimal space —
    no float boundary to disagree across engines."""
    _tpch_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE) / 7.0 AS avg_yearly
        FROM _tpch_lineitem l
        JOIN _tpch_part p ON p.p_partkey = l.l_partkey
        JOIN (
          SELECT l_partkey, COUNT(*) AS cnt, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
          FROM _tpch_lineitem GROUP BY l_partkey
        ) a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#3'
          AND CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * a.cnt < a.sum_qty
        """
    )


@q(
    "q18_large_volume_customers",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 (IN over a HAVING subquery), planned single-pass: the
    oracle's correlated shape scans lineitem twice (once for the HAVING
    subquery, once joined); here the per-order aggregate is computed ONCE —
    both the threshold and the output sum fall out of the same groupBy —
    and the >250 survivors (a tiny set) broadcast into orders and customer.
    One lineitem shuffle, zero extra lineitem passes; at 100 TB the second
    fact-table scan is the difference that matters."""
    li = _t(spark, sf_dir, "lineitem")
    sums = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(38,10)")), 4)
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_thresh"),
    )
    big = sums.where(F.col("_thresh") > 250).drop("_thresh")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


@q(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 25 AND l.l_quantity >= 15 AND l.l_quantity <= 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19: disjunction of conjunctive band predicates spanning both
    join sides — exercises post-join residual filtering (Catalyst still
    extracts the common p_partkey equi-key for the hash join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 25)
           & F.col("l_quantity").between(15, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 40)
           & F.col("l_quantity").between(20, 40))
    )
    return j.where(band).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@q(
    "q20_promo_part_suppliers",
    """
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 430
    )
    """,
)
def q20_promo_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who moved a large volume of PROMO parts
    in a year (partsupp availability stands in as shipped quantity)."""
    _tpch_views(spark, sf_dir, "supplier", "lineitem", "part")
    return spark.sql(
        """
        SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM _tpch_supplier s
        WHERE s.s_suppkey IN (
          SELECT l.l_suppkey
          FROM _tpch_lineitem l JOIN _tpch_part p ON p.p_partkey = l.l_partkey
          WHERE p.p_type = 'PROMO'
            AND l.l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
            AND l.l_shipdate < TIMESTAMP_NTZ '1998-01-01'
          GROUP BY l.l_suppkey
          HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 430
        )
        """
    )


@q(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 25
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: the only supplier who returned items in a
    multi-supplier finished order — EXISTS + NOT EXISTS, both correlated
    on a non-equi (<>) conjunct (returnflag stands in for the missing
    commit/receipt dates)."""
    _tpch_views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s.s_name, COUNT(*) AS numwait
        FROM _tpch_supplier s
        JOIN _tpch_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN _tpch_orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM _tpch_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM _tpch_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        ORDER BY numwait DESC, s_name LIMIT 25
        """
    )


@q(
    "q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE) AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * avg_bal.n > avg_bal.s
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
      )
    GROUP BY c.c_mktsegment
    """,
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no high-value
    orders, per segment (c_phone country codes are absent; every customer
    has orders in the synthetic data, so "no orders at all" would be
    empty — the price threshold keeps the anti-join selective). The
    above-average test is exact: `bal * n > sum` in decimal space."""
    _tpch_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        WITH avg_bal AS (
          SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
          FROM _tpch_customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment, COUNT(*) AS numcust,
               CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE) AS totacctbal
        FROM _tpch_customer c CROSS JOIN avg_bal
        WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * avg_bal.n > avg_bal.s
          AND NOT EXISTS (
            SELECT 1 FROM _tpch_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
          )
        GROUP BY c.c_mktsegment
        """
    )


# =========================================================================
# end-to-end corpus curation: composition of the verified filter stages
# =========================================================================

ORACLES["corpus_curation"] = f"""
    WITH q AS ({ORACLES["text_quality_features"]}),
         r AS ({ORACLES["gopher_repetition_signals"]}),
         l AS ({ORACLES["language_id_heuristic"]}),
         dd AS ({ORACLES["exact_dedup"]})
    SELECT q.doc_id, q.q_tokens, r.gopher_repetition_pass, l.lang_pred,
           (dd.doc_id IS NOT NULL) AS is_canonical,
           (q.q_tokens >= 20 AND r.gopher_repetition_pass
            AND dd.doc_id IS NOT NULL AND l.lang_pred = l.lang) AS keep
    FROM q JOIN r ON q.doc_id = r.doc_id JOIN l ON q.doc_id = l.doc_id
    LEFT JOIN dd ON q.doc_id = dd.doc_id
"""


ORACLES["corpus_curation_v2"] = f"""
    WITH v1 AS ({ORACLES["corpus_curation"]}),
         lm AS ({_ngram_lm_oracle(3)}),
         pool AS (
           SELECT v1.doc_id, d.source, d.n_chars
           FROM v1 JOIN lm ON lm.doc_id = v1.doc_id
           JOIN documents d ON d.doc_id = v1.doc_id
           WHERE v1.keep AND lm.nll <= 5.40
         ),
         quota AS (
           SELECT doc_id, CAST(ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
           ) AS INT) AS quota_rank
           FROM pool
         )
    SELECT v1.doc_id, v1.keep AS keep_v1,
           COALESCE(lm.nll <= 5.40, FALSE) AS lm_pass,
           quota.quota_rank,
           COALESCE(quota.quota_rank <= 30, FALSE) AS keep_v2
    FROM v1
    LEFT JOIN lm ON lm.doc_id = v1.doc_id
    LEFT JOIN quota ON quota.doc_id = v1.doc_id
"""


@q("corpus_curation_v2")
def corpus_curation_v2(spark, sf_dir):
    """Round-4 curation funnel: the verified v1 keep decision (quality ⋈
    repetition ⋈ lang-ID ⋈ dedup-canonical) narrowed by the LM perplexity
    filter (ngram_lm_scores, nll ≤ 5.40) and a per-source anti-domination
    quota (quota_cap top-30 by length) — the three stages every production
    recipe chains after the cheap filters. Verifies the COMPOSITION of all
    seven independently-verified operators in one plan."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    v1 = corpus_curation(spark, sf_dir).select("doc_id", F.col("keep").alias("keep_v1"))
    # materialize=False (r14, VERDICT r13 #3): inside this composite the
    # eager gram-stream checkpoint serialized against the other curation
    # stages and LOST on the driver (2.66 s → 3.71 s, both core counts)
    # even though it wins for the standalone LM query — keep the lazy
    # two-subtree shape here (the _ref predicate pushes into the counts
    # subtree's scan).
    lm = TX.ngram_lm_scores(
        d, "doc_id", "text", ref_pred="lang = 'en'", materialize=False
    ).select("doc_id", (F.col("nll") <= 5.40).alias("lm_pass"))
    # each stage referenced ONCE (a pool-subset + re-join shape executed the
    # v1 and LM subtrees twice — 29 s at sf0.1): rank every doc per source
    # with passing docs first, so the rank restricted to the passing prefix
    # IS the within-pool quota rank
    joined = (
        v1.join(lm, "doc_id", "left")
        .join(d.select("doc_id", "source", "n_chars"), "doc_id")
        .withColumn("lm_pass", F.coalesce("lm_pass", F.lit(False)))
        .withColumn("_pass", F.col("keep_v1") & F.col("lm_pass"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("_pass").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "keep_v1",
        "lm_pass",
        F.when(F.col("_pass"), F.row_number().over(w)).alias("quota_rank"),
        F.coalesce(
            F.when(F.col("_pass"), F.row_number().over(w)) <= 30, F.lit(False)
        ).alias("keep_v2"),
    )


@q("corpus_curation")
def corpus_curation(spark, sf_dir):
    """The full curation funnel in ONE declarative plan: quality features ⋈
    repetition filters ⋈ language-ID ⋈ exact-dedup canonical flags → a
    per-document keep decision (min length AND Gopher repetition pass AND
    canonical copy AND language agrees with the source label). Each stage is
    independently oracle-verified; this query verifies their COMPOSITION —
    Catalyst fuses the four scans into one pass over documents plus the
    dedup aggregate, which is how a 100 TB curation job should run: one
    read, many signals."""
    d = _t(spark, sf_dir, "documents")
    # quality + language-ID are per-row projections: CHAIN them so both
    # families come out of one documents scan with zero joins; only the
    # aggregate-shaped signals (repetition, dedup) need their own passes
    base = TX.language_id(TX.quality_features(d.select("doc_id", "lang", "text"))).select(
        "doc_id", "lang", "lang_pred", "q_tokens"
    )
    r = TX.repetition_signals(d, "doc_id").select("doc_id", "gopher_repetition_pass")
    can = D.exact_dedup(d, "doc_id", "text").select("doc_id").withColumn(
        "_can", F.lit(True)
    )
    return (
        base.join(r, "doc_id")
        .join(can, "doc_id", "left")
        .select(
            "doc_id",
            "q_tokens",
            "gopher_repetition_pass",
            "lang_pred",
            F.coalesce(F.col("_can"), F.lit(False)).alias("is_canonical"),
            (
                (F.col("q_tokens") >= 20)
                & F.col("gopher_repetition_pass")
                & F.coalesce(F.col("_can"), F.lit(False))
                & (F.col("lang_pred") == F.col("lang"))
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# round 5: statistics-fed join planning, view versioning, history-retaining
# TRUNCATE, exactly-once streaming ingest — each driver-gated vs the oracle
# --------------------------------------------------------------------------


@q(
    "iceberg_stats_broadcast_join",
    """
    SELECT o.o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey <= 50
    GROUP BY o_orderstatus
    """,
)
def iceberg_stats_broadcast_join(spark, sf_dir):
    """Plan-time statistics feed (reference:
    datafusion_iceberg/src/statistics.rs:20-100): after MoR-deleting all
    but 51 customers, raw parquet bytes still exceed a (lowered) broadcast
    threshold but the manifest estimate does not — the scan must carry a
    broadcast hint so the join is a BroadcastHashJoin. The assertion is
    baked into the query; values must match the oracle exactly."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:statsbcast".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.cust_sb"):
        cdf = _t(spark, sf_dir, "customer")
        t = eng.create_table("rt.cust_sb", cdf.schema)
        t.append(cdf)
        delete_where(t, "c_custkey > 50", mode="merge-on-read")
    t = eng.load_table("rt.cust_sb")
    raw_bytes = sum(
        f.file_size_in_bytes
        for f in __import__(
            "iceberg_rust_custom_spark.table.scan", fromlist=["plan_files"]
        ).plan_files(t.metadata, t.metadata.snapshot_for_ref())
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(max(1024, raw_bytes // 2)))
    try:
        dim = t.scan().select("c_custkey")
        out = (
            _t(spark, sf_dir, "orders")
            .join(dim, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, "stats-fed broadcast hint did not fire"
        out.count()  # materialize under the lowered threshold
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    return out


@q(
    "iceberg_view_versioning",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 50000
    GROUP BY o_orderstatus
    """,
)
def iceberg_view_versioning(spark, sf_dir):
    """View version evolution (reference:
    view/transaction/operation.rs:24-90, view_metadata.rs:56-61):
    CREATE OR REPLACE / ALTER VIEW create version max+1 with a version-log
    entry; the scan replays the CURRENT version's SQL. The oracle is the
    final (replaced) definition — stale replay would hash-mismatch."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:viewver".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_vv"):
        odf = _t(spark, sf_dir, "orders")
        eng.create_table("rt.ord_vv", odf.schema).append(odf)
        eng.sql(
            "CREATE VIEW rt.ord_view AS "
            "SELECT o_orderstatus, COUNT(*) AS n FROM rt.ord_vv GROUP BY o_orderstatus"
        )
        eng.sql(
            "CREATE OR REPLACE VIEW rt.ord_view AS "
            "SELECT o_orderstatus, COUNT(*) AS n FROM rt.ord_vv "
            "WHERE o_totalprice > 50000 GROUP BY o_orderstatus"
        )
    md = eng._load_view_metadata("rt.ord_view")
    assert md.current_version_id == 2 and len(md.version_log) == 2, md.version_log
    assert md.versions[1].sql != md.versions[2].sql  # v1 immutable
    return eng.scan_view("rt.ord_view")


@q(
    "iceberg_truncate_time_travel",
    """
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def iceberg_truncate_time_travel(spark, sf_dir):
    """History-retaining TRUNCATE: the post-truncate table is empty, but
    the pre-truncate snapshot stays time-travelable (no snapshot removal,
    no physical deletion). The query returns the TIME-TRAVELED read, which
    must equal the oracle over the original data — a destructive truncate
    would return zero rows and fail the gate."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:trunctt".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_tr"):
        df = _t(spark, sf_dir, "lineitem")
        t = eng.create_table("rt.li_tr", df.schema)
        t.append(df)
        eng.sql("TRUNCATE TABLE rt.li_tr")
    t = eng.load_table("rt.li_tr")
    assert t.scan().count() == 0
    head = t.metadata.snapshot_for_ref()
    pre_snap = head.parent_snapshot_id
    assert pre_snap is not None and pre_snap in t.metadata.snapshots
    return (
        t.scan(snapshot_id=pre_snap)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )


@q(
    "iceberg_streaming_exactly_once",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_streaming_exactly_once(spark, sf_dir):
    """Exactly-once streaming ingest: orders streamed into a table via the
    foreachBatch append sink, then the WHOLE stream replayed from a reset
    checkpoint (batch ids restart at 0, same sink id). Replayed batches
    must be skipped via the (sink-id, batch-id) snapshot-summary lineage —
    at-least-once duplication would double counts and fail the oracle."""
    import hashlib
    import os
    import shutil

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.streaming.pipeline import stream_append_to_table

    tag = hashlib.md5(f"{sf_dir}:streameo".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_eo"):
        odf = _t(spark, sf_dir, "orders")
        t = eng.create_table("rt.ord_eo", odf.schema)
        stage = os.path.join(wh, "stream_src")
        odf.write.mode("overwrite").parquet(stage)
        ckpt = os.path.join(wh, "stream_ckpt")
        for _ in range(2):  # second pass = full replay from reset checkpoint
            shutil.rmtree(ckpt, ignore_errors=True)
            stream = spark.readStream.schema(odf.schema).parquet(stage)
            q_ = stream_append_to_table(eng.load_table("rt.ord_eo"), stream, ckpt)
            q_.awaitTermination(600)
    return (
        eng.load_table("rt.ord_eo")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


def _fuzzy_decontamination_oracle(num_hashes: int = 16, bands: int = 8, threshold: float = 0.5) -> str:
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"MIN({affine_hash_sql('h0', a, b)}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def banded(src: str, out_id: str) -> str:
        selects = []
        for b in range(bands):
            cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
            sig = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            selects.append(
                f"SELECT doc_id AS {out_id}, {b} AS band_idx, {sig} AS band_sig FROM {src}"
            )
        return "\nUNION ALL\n".join(selects)

    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), hashed AS (
      SELECT doc_id, {md5h32_sql('shingle')} AS h0 FROM sh WHERE shingle <> ''
    ), sig AS (
      SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
    ), train_sig AS (
      SELECT * FROM sig WHERE doc_id % 7 <> 0
    ), test_sig AS (
      SELECT * FROM sig WHERE doc_id % 7 = 0
    ), tb AS (
      {banded('train_sig', 'train_id')}
    ), bb AS (
      {banded('test_sig', 'test_id')}
    ), cand AS (
      SELECT DISTINCT tb.train_id, bb.test_id
      FROM tb JOIN bb ON tb.band_idx = bb.band_idx AND tb.band_sig = bb.band_sig
    ), dsets AS (
      SELECT doc_id, COUNT(DISTINCT shingle) AS sz FROM sh WHERE shingle <> '' GROUP BY doc_id
    ), inter AS (
      SELECT c.train_id, c.test_id, COUNT(DISTINCT a.shingle) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.train_id
      JOIN sh b ON b.doc_id = c.test_id AND a.shingle = b.shingle
      WHERE a.shingle <> ''
      GROUP BY 1, 2
    ), contaminated AS (
      SELECT DISTINCT i.train_id AS doc_id
      FROM inter i
      JOIN dsets sa ON i.train_id = sa.doc_id
      JOIN dsets sb ON i.test_id = sb.doc_id
      WHERE i.i * 1.0 / (sa.sz + sb.sz - i.i) >= {threshold}
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 7 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


@q("fuzzy_decontamination", _fuzzy_decontamination_oracle(16, 8, 0.5))
def fuzzy_decontamination(spark, sf_dir):
    """Fuzzy train/test decontamination (Lee et al. 2022 §6): drop train
    docs that are VERIFIED near-dups (exact Jaccard ≥ 0.5 on LSH
    candidates) of any test doc. Complements the exact n-gram guard
    (`benchmark_decontamination`) by catching lightly-edited leakage.
    Candidates come from cross-corpus banding — O(train)+O(test), never
    train × test."""
    docs = _t(spark, sf_dir, "documents")
    survivors = D.fuzzy_decontaminate(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        "doc_id",
        "text",
        num_hashes=16,
        bands=8,
        threshold=0.5,
    )
    return survivors.select("doc_id")


@q(
    "iceberg_ctas",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderstatus
    """,
)
def iceberg_ctas(spark, sf_dir):
    """CREATE TABLE AS SELECT: schema inferred from the planned query,
    result committed as the initial snapshot; read back through the
    table scan (round-trip through the full write/commit/scan path)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:ctas".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_big"):
        odf = _t(spark, sf_dir, "orders")
        eng.create_table("rt.ord_src", odf.schema).append(odf)
        eng.sql(
            "CREATE TABLE rt.ord_big AS "
            "SELECT o_orderstatus, o_totalprice FROM rt.ord_src WHERE o_totalprice > 100000"
        )
    return (
        eng.load_table("rt.ord_big")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "quality_classifier_scores",
    r"""
    WITH f AS (
      SELECT doc_id,
             LENGTH(text) AS q_chars,
             len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS q_tokens,
             ROUND(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) > 0
                   THEN LENGTH(regexp_replace(text, '\s+', '', 'g')) * 1.0
                        / len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))
                   ELSE 0.0 END, 6) AS q_mean_word_len,
             ROUND(CASE WHEN LENGTH(text) > 0
                   THEN (LENGTH(text) - LENGTH(regexp_replace(text, '[\.,;:!\?]', '', 'g'))) * 1.0 / LENGTH(text)
                   ELSE 0.0 END, 6) AS q_punct_ratio,
             ROUND(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) > 0
                   THEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|a)\b')) * 1.0
                        / len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))
                   ELSE 0.0 END, 6) AS q_stop_ratio
      FROM documents
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-(-1.0 + q_mean_word_len * 0.2 + q_punct_ratio * -4.0
                                    + q_stop_ratio * 3.0 + q_tokens * 0.01))), 6) AS clf_score,
           ROUND(1.0 / (1.0 + EXP(-(-1.0 + q_mean_word_len * 0.2 + q_punct_ratio * -4.0
                                    + q_stop_ratio * 3.0 + q_tokens * 0.01))), 6) >= 0.5 AS clf_keep
    FROM f
    """,
)
def quality_classifier_scores(spark, sf_dir):
    """Model-inference-in-plan: logistic quality classifier scored as pure
    codegen expressions (the 'model' is constants folded into the plan —
    scoring a 100 TB corpus is one narrow scan, no model server, no UDF).
    Weights are the operator defaults; a real deployment trains them
    offline and passes them in."""
    return TX.quality_classifier(_t(spark, sf_dir, "documents")).select(
        "doc_id", "clf_score", "clf_keep"
    )


@q(
    "luhn_card_redaction",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' pay ' || CASE WHEN doc_id % 2 = 0
                                     THEN '4532 0151 1283 0366'
                                     ELSE '4532 0151 1283 0367' END AS text2
      FROM documents
    ), spans AS (
      SELECT doc_id, text2,
             list_filter(
               regexp_extract_all(text2, '[0-9][0-9 -]{11,17}[0-9]'),
               s -> length(regexp_replace(s, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
                AND list_sum(list_transform(range(1, length(regexp_replace(s, '[^0-9]', '', 'g')) + 1),
                      i -> CASE WHEN (length(regexp_replace(s, '[^0-9]', '', 'g')) - i) % 2 = 1
                           THEN CASE WHEN (ascii(substring(regexp_replace(s, '[^0-9]', '', 'g'), i, 1)) - 48) * 2 > 9
                                     THEN (ascii(substring(regexp_replace(s, '[^0-9]', '', 'g'), i, 1)) - 48) * 2 - 9
                                     ELSE (ascii(substring(regexp_replace(s, '[^0-9]', '', 'g'), i, 1)) - 48) * 2 END
                           ELSE ascii(substring(regexp_replace(s, '[^0-9]', '', 'g'), i, 1)) - 48 END)) % 10 = 0
             ) AS valid
      FROM aug
    )
    SELECT doc_id,
           list_reduce(list_prepend(text2, valid), (acc, s) -> replace(acc, s, '<card>')) AS redacted
    FROM spans
    """,
)
def luhn_card_redaction(spark, sf_dir):
    """Checksum-validated PII redaction (pure codegen: candidate regex →
    Luhn aggregate filter → replace fold). The gate plants a VALID card on
    even doc_ids and a same-shape INVALID number on odd ones — the valid
    plant must be redacted, the invalid one must survive, hash-exactly
    per document."""
    aug = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" pay "),
            F.when(F.col("doc_id") % 2 == 0, F.lit("4532 0151 1283 0366")).otherwise(
                F.lit("4532 0151 1283 0367")
            ),
        ),
    )
    return TX.redact_card_numbers(aug, "text2").select("doc_id", "redacted")


@q(
    "iceberg_dynamic_overwrite",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT o_orderstatus, o_totalprice AS price FROM orders
      WHERE NOT (o_orderdate >= TIMESTAMP '1997-06-01' AND o_orderdate < TIMESTAMP '1997-07-01')
      UNION ALL
      SELECT o_orderstatus, o_totalprice * 2 AS price FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_orderdate < TIMESTAMP '1997-07-01'
    ) GROUP BY o_orderstatus
    """,
)
def iceberg_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite: rewrite ONE month's partition (prices
    doubled) in a month-partitioned orders table; every other partition's
    files carry over untouched in the same atomic commit — the
    daily-backfill shape. Oracle = other months ∪ doubled June 1997."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:dynover".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_dyn"):
        odf = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        eng.sql(
            "CREATE TABLE rt.ord_dyn (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP) "
            "STORED AS ICEBERG PARTITIONED BY (month(o_orderdate))"
        )
        t = eng.load_table("rt.ord_dyn")
        t.append(odf.withColumn("o_totalprice", F.col("o_totalprice").cast("double")))
        june = odf.where(
            (F.col("o_orderdate") >= "1997-06-01") & (F.col("o_orderdate") < "1997-07-01")
        ).withColumn("o_totalprice", (F.col("o_totalprice") * 2).cast("double"))
        t.dynamic_overwrite(june)
    return (
        eng.load_table("rt.ord_dyn")
        .scan()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "iceberg_dv_delete",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem WHERE NOT (l_quantity < 10) GROUP BY l_returnflag
    """,
)
def iceberg_dv_delete(spark, sf_dir):
    """Merge-on-read DELETE stored as v3-style DELETION VECTORS: roaring
    bitmap blobs in a Puffin container, one per referenced data file
    (write.delete.format=dv). Same oracle as the parquet-tombstone flavor
    (iceberg_mor_delete) — the two storage formats must be answer-identical."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:dvdel".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_dv"):
        df = _t(spark, sf_dir, "lineitem")
        t = eng.create_table("rt.li_dv", df.schema)
        t.metadata = t.new_transaction().set_properties({"write.delete.format": "dv"}).commit()
        t.append(df)
        delete_where(t, "l_quantity < 10", mode="merge-on-read")
        # structural assertion: the tombstones really are DV blobs
        from iceberg_rust_custom_spark.table.scan import plan_delete_files

        dels = plan_delete_files(t.metadata, t.metadata.snapshot_for_ref())
        assert dels and all(e.data_file.file_format == "puffin" for e in dels)
    return (
        eng.load_table("rt.li_dv")
        .scan()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "iceberg_nested_evolution",
    """
    SELECT st, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(price AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_price,
           COUNT(disc) AS n_disc,
           CAST(ROUND(SUM(CAST(disc AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_disc
    FROM (
      SELECT o_orderstatus AS st, o_totalprice AS price, CAST(NULL AS DOUBLE) AS disc
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice, o_totalprice * 0.5
      FROM orders WHERE o_orderkey % 2 = 1
    ) GROUP BY st
    """,
)
def iceberg_nested_evolution(spark, sf_dir):
    """Nested-field schema evolution (reference field-id model:
    iceberg-rust-spec/src/spec/types.rs:185-344): epoch 1 writes
    ``info STRUCT<status, price>``; the struct member is then RENAMED
    (info.status -> info.st, id kept) and a member ADDED (info.disc,
    fresh table-unique id); epoch 2 writes the evolved shape. One
    full-table read must resolve both epochs by field id — renamed
    members keep their old files' values, the added member null-fills
    them. Oracle = evens (disc NULL) union odds (disc = price/2)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:nestev".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_nested"):
        odf = _t(spark, sf_dir, "orders")
        eng.sql(
            "CREATE TABLE rt.ord_nested (o_orderkey BIGINT, "
            "info STRUCT<status: STRING, price: DOUBLE>) STORED AS ICEBERG"
        )
        t = eng.load_table("rt.ord_nested")
        t.append(
            odf.where(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey",
                F.struct(
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_totalprice").cast("double").alias("price"),
                ).alias("info"),
            )
        )
        t.update_schema().rename_column("info.status", "st").commit()
        t.update_schema().add_column("info.disc", "double").commit()
        t.append(
            odf.where(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                F.struct(
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_totalprice").cast("double").alias("price"),
                    (F.col("o_totalprice") * 0.5).cast("double").alias("disc"),
                ).alias("info"),
            )
        )
    return (
        eng.load_table("rt.ord_nested")
        .scan()
        .groupBy(F.col("info.st").alias("st"))
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("info.price")).alias("sum_price"),
            F.count(F.col("info.disc")).alias("n_disc"),
            _dsum(F.col("info.disc")).alias("sum_disc"),
        )
    )


@q(
    "iceberg_multi_catalog_join",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def iceberg_multi_catalog_join(spark, sf_dir):
    """Multi-catalog session (reference ``CatalogList``:
    iceberg-rust/src/catalog/mod.rs:106-121,
    datafusion_iceberg/src/catalog/catalog_list.rs:13-80): one Engine
    bound to TWO heterogeneous catalogs (file-based + sqlite-based);
    orders lives in ``sales``, customer in ``crm``; a single SQL
    statement joins across them via 3-part ``cat.ns.table`` names."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_custom_spark.catalog.sql_catalog import SqlCatalog
    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:multicat".encode()).hexdigest()[:12]
    base = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(
        spark,
        catalogs={
            "sales": FileCatalog(os.path.join(base, "sales_wh")),
            "crm": SqlCatalog(os.path.join(base, "crm.db")),
        },
        default_catalog="sales",
        warehouse=os.path.join(base, "shared_wh"),
    )
    if not eng.table_exists("sales.rt.orders"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        eng.create_table("sales.rt.orders", odf.schema)
        eng.load_table("sales.rt.orders").append(odf)
    if not eng.table_exists("crm.rt.customer"):
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        eng.create_table("crm.rt.customer", cdf.schema)
        eng.load_table("crm.rt.customer").append(cdf)
    return eng.sql(
        "SELECT c.c_mktsegment AS segment, COUNT(*) AS n, "
        "CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue "
        "FROM sales.rt.orders o JOIN crm.rt.customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    )


@q(
    "iceberg_rewrite_position_deletes",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE NOT (l_quantity < 5) AND NOT (l_quantity >= 45)
      AND l_orderkey NOT IN (1, 2, 3)
    GROUP BY l_returnflag
    """,
)
def iceberg_rewrite_position_deletes(spark, sf_dir):
    """Delete-file consolidation (Iceberg's RewritePositionDeleteFiles +
    the v3 position-delete→DV migration; beyond the reference, whose
    Rewrite op only touches data files — operation.rs:378-552): two MoR
    DELETE commits (parquet tombstones) plus an equality-delete commit
    accumulate three delete files; ``rewrite_position_deletes`` re-expresses
    all of them as one DV per referenced data file in ONE puffin container,
    carrying every data file untouched. The scan after consolidation must
    hash-match the three predicates' conjunction."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import (
        delete_by_key,
        delete_where,
        rewrite_position_deletes,
    )
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    tag = hashlib.md5(f"{sf_dir}:rwpd".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_rwpd"):
        df = _t(spark, sf_dir, "lineitem")
        t = eng.create_table("rt.li_rwpd", df.schema)
        t.append(df)
        delete_where(t, "l_quantity < 5", mode="merge-on-read")
        delete_where(t, "l_quantity >= 45", mode="merge-on-read")
        delete_by_key(t, [1, 2, 3], key_cols=["l_orderkey"])
        data_before = {f.file_path for f in plan_files(t.metadata, t.metadata.snapshot_for_ref())}
        rewrite_position_deletes(t)
        # structural assertions: one puffin container, data files untouched
        dels = plan_delete_files(t.metadata, t.metadata.snapshot_for_ref())
        assert dels and all(e.data_file.file_format == "puffin" for e in dels)
        assert len({e.data_file.file_path for e in dels}) == 1
        data_after = {f.file_path for f in plan_files(t.metadata, t.metadata.snapshot_for_ref())}
        assert data_after == data_before
    return (
        eng.load_table("rt.li_rwpd")
        .scan()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@q(
    "iceberg_default_values",
    """
    SELECT channel, o_orderstatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM (
      SELECT CASE WHEN o_orderkey % 3 = 2 THEN 'web' ELSE 'store' END AS channel,
             o_orderstatus, o_totalprice
      FROM orders
    ) GROUP BY channel, o_orderstatus
    """,
)
def iceberg_default_values(spark, sf_dir):
    """Iceberg v3 default values: epoch 1 predates the ``channel`` column;
    ``add_column(default='store')`` fixes its initial-default, so epoch-1
    rows read back 'store' without rewriting a byte; epoch 2 appends
    WITHOUT the column (write-default fills 'store'); epoch 3 provides
    'web' explicitly. The reference has no default-value model — this is
    v3-spec parity beyond it."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:defval".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_defv"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        eng.sql(
            "CREATE TABLE rt.ord_defv (o_orderkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE) STORED AS ICEBERG"
        )
        t = eng.load_table("rt.ord_defv")
        t.append(odf.where(F.col("o_orderkey") % 3 == 0))
        t.update_schema().add_column("channel", "string", default="store").commit()
        t.append(odf.where(F.col("o_orderkey") % 3 == 1))  # write-default fill
        t.append(
            odf.where(F.col("o_orderkey") % 3 == 2).withColumn("channel", F.lit("web"))
        )
    return (
        eng.load_table("rt.ord_defv")
        .scan()
        .groupBy("channel", "o_orderstatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "iceberg_row_lineage",
    """
    WITH c AS (
      SELECT CAST(o_orderkey % 3 AS BIGINT) AS epoch, COUNT(*) AS n
      FROM orders GROUP BY 1
    ), s AS (
      SELECT epoch, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS blk
      FROM c
    )
    SELECT epoch,
           CAST(n AS BIGINT) AS n,
           blk AS min_rid,
           CAST(blk + n - 1 AS BIGINT) AS max_rid,
           CAST(n * blk + n * (n - 1) / 2 AS BIGINT) AS sum_rid,
           CAST(epoch + 1 AS BIGINT) AS upd_seq
    FROM s
    """,
)
def iceberg_row_lineage(spark, sf_dir):
    """Iceberg v3 row lineage: three sequential appends (epochs split by
    o_orderkey % 3) reserve contiguous _row_id blocks from the table's
    next-row-id; a compaction rewrites every byte but MUST preserve row
    identity (explicit _row_id / _last_updated_sequence_number columns
    materialized into the rewritten files). The oracle derives each
    epoch's block [start, start+n) arithmetically — ids are positional,
    so per-epoch min/max/sum and the preserved update sequence are exact.
    The reference tracks format v2 only (no next-row-id in
    iceberg-rust-spec/src/spec/table_metadata.rs:51-138)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import compact

    tag = hashlib.md5(f"{sf_dir}:rowlineage".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_rl"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        eng.sql(
            "CREATE TABLE rt.ord_rl (o_orderkey BIGINT, o_totalprice DOUBLE) "
            "STORED AS ICEBERG"
        )
        t = eng.load_table("rt.ord_rl")
        for epoch in (0, 1, 2):  # one commit per epoch → seq 1, 2, 3
            t.append(odf.where(F.col("o_orderkey") % 3 == epoch))
        compact(t)  # full rewrite; lineage must survive it
    return (
        eng.load_table("rt.ord_rl")
        .scan(row_lineage=True)
        .groupBy((F.col("o_orderkey") % 3).alias("epoch"))
        .agg(
            F.count("*").alias("n"),
            F.min("_row_id").alias("min_rid"),
            F.max("_row_id").alias("max_rid"),
            F.sum("_row_id").alias("sum_rid"),
            F.max("_last_updated_sequence_number").alias("upd_seq"),
        )
    )


@q(
    "iceberg_variant_extract",
    """
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
             AS urgent,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_variant_extract(spark, sf_dir):
    """Iceberg v3 VARIANT: orders rows are stored as a semi-structured
    variant document ({"status","priority","price"}), round-tripped through
    the table (physical JSON text, logical Spark VariantType), then typed
    fields come back out with variant_get and aggregate — hash-exact
    against the oracle computed on the original relational columns. The
    reference stops at the v2 primitive types (types.rs:185-344)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:variant".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_var"):
        odf = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.to_json(
                F.struct(
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_totalprice").alias("price"),
                )
            ).alias("doc"),
        )
        eng.sql("CREATE TABLE rt.ord_var (o_orderkey BIGINT, doc VARIANT) STORED AS ICEBERG")
        eng.load_table("rt.ord_var").append(odf)
    return (
        eng.load_table("rt.ord_var")
        .scan()
        .select(
            F.variant_get("doc", "$.status", "string").alias("status"),
            F.variant_get("doc", "$.priority", "string").alias("priority"),
            F.variant_get("doc", "$.price", "double").alias("price"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("priority").like("1%"), 1).otherwise(0)).alias("urgent"),
            _dsum(F.col("price")).alias("revenue"),
        )
    )


@q(
    "iceberg_cdc_update_pairs",
    """
    WITH m AS (
      SELECT CAST(o_totalprice AS DECIMAL(38,10)) AS p
      FROM orders WHERE o_orderkey % 10 = 7
    )
    SELECT 'update_before' AS change_type, COUNT(*) AS n,
           CAST(ROUND(SUM(p), 4) AS DOUBLE) AS revenue FROM m
    UNION ALL
    SELECT 'update_after' AS change_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(p * 2 AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue FROM m
    """,
)
def iceberg_cdc_update_pairs(spark, sf_dir):
    """v3 row-lineage CDC: a merge-on-read UPDATE commits a tombstone and a
    re-appended row sharing the same _row_id; changes(with_lineage=True)
    pairs them back into 'update_before' / 'update_after' — the Iceberg
    changelog-with-updates the reference cannot express (no row-level ops,
    no v3 lineage; table/mod.rs:156-166 only detects delete files)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import update_where

    tag = hashlib.md5(f"{sf_dir}:cdcupd".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_cdc"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        eng.sql(
            "CREATE TABLE rt.ord_cdc (o_orderkey BIGINT, o_totalprice DOUBLE) "
            "STORED AS ICEBERG"
        )
        eng.load_table("rt.ord_cdc").append(odf)
    t = eng.load_table("rt.ord_cdc")
    base_seq = 1  # the initial append; everything after is the update
    if t.metadata.last_sequence_number == 1:
        update_where(
            t, {"o_totalprice": "o_totalprice * 2"}, "o_orderkey % 10 = 7",
            mode="merge-on-read",
        )
        t = eng.load_table("rt.ord_cdc")
    return (
        t.changes(base_seq, with_lineage=True)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("revenue"))
    )


@q(
    "iceberg_metadata_columns",
    """
    SELECT '{"part": ' || CAST(o_orderkey % 4 AS VARCHAR) || '}' AS part_tuple,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY 1
    """,
)
def iceberg_metadata_columns(spark, sf_dir):
    """Reserved metadata columns: scan(metadata_columns=['_partition'])
    surfaces each row's partition tuple from the manifests (spec reserved
    field ids); grouping on it must exactly reproduce the relational
    group-by on the partition source expression. The reference exposes no
    metadata columns (its scan returns data columns only,
    datafusion_iceberg/src/table.rs:158-215)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:metacols".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_meta"):
        odf = (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey")
            .withColumn("part", F.col("o_orderkey") % 4)
        )
        eng.sql(
            "CREATE TABLE rt.ord_meta (o_orderkey BIGINT, part BIGINT) "
            "STORED AS ICEBERG PARTITIONED BY (part)"
        )
        eng.load_table("rt.ord_meta").append(odf)
    return (
        eng.load_table("rt.ord_meta")
        .scan(metadata_columns=["_partition"])
        .groupBy(F.col("_partition").alias("part_tuple"))
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("key_sum"))
    )


@q(
    "iceberg_type_promotion",
    """
    SELECT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(24,2))), 2)
                AS DOUBLE) AS amt
    FROM orders GROUP BY 1
    """,
)
def iceberg_type_promotion(spark, sf_dir):
    """v3 type promotions: epoch 1 writes DATE + DECIMAL(12,2); the schema
    then widens to TIMESTAMP + DECIMAL(24,2) (v3 additions — the v2-only
    reference allows just int→long/float→double, types.rs:185-344) and
    epoch 2 appends at the wide types. One scan reads both epochs under the
    current schema — old dates surface as midnight timestamps, narrow
    decimals widen losslessly — and the month/total aggregate must be
    hash-exact vs the oracle on the raw relational columns."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine

    tag = hashlib.md5(f"{sf_dir}:promo".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_promo"):
        odf = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("amt"),
        )
        eng.sql(
            "CREATE TABLE rt.ord_promo (o_orderkey BIGINT, od DATE, amt DECIMAL(12,2)) "
            "STORED AS ICEBERG"
        )
        t = eng.load_table("rt.ord_promo")
        t.append(odf.where(F.col("o_orderkey") % 2 == 0))
        t.update_schema().widen_column("od", "timestamp").widen_column(
            "amt", "decimal(24,2)"
        ).commit()
        t.append(
            odf.where(F.col("o_orderkey") % 2 == 1)
            .withColumn("od", F.col("od").cast("timestamp_ntz"))
            .withColumn("amt", F.col("amt").cast("decimal(24,2)"))
        )
    return (
        eng.load_table("rt.ord_promo")
        .scan()
        .groupBy(F.month("od").alias("mo"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("amt"), 2).cast("double").alias("amt"),
        )
    )


# --------------------------------------------------------------- round 9


@q(
    "iceberg_changelog_compaction",
    """
    SELECT o_orderkey, 'insert' AS _change_type FROM orders
    UNION ALL
    SELECT o_orderkey, 'delete' FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, 'insert' FROM orders WHERE o_orderkey % 14 = 0
    """,
)
def iceberg_changelog_compaction(spark, sf_dir):
    """r9: lineage-preserving rewrites are changelog-TRANSPARENT. The range
    here spans append → MoR delete → compact() → re-append; compaction has
    zero net row change (summary lineage-preserved=true), so changes()
    splits the range at the commit and replays each side against the
    snapshot on that side (table.changelog_segments) instead of raising —
    CDC followers and incremental MVs survive routine nightly OPTIMIZE
    (VERDICT r8 top item). The oracle is the exact expected event multiset."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import compact, delete_where

    tag = hashlib.md5(f"{sf_dir}:cccomp".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_cc"):
        df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        t = eng.create_table("rt.orders_cc", df.schema)
        t.append(df)
        delete_where(t, "o_orderkey % 7 = 0", mode="merge-on-read")
        t = compact(t)  # mid-range: transparent, history-retaining
        t.append(df.where(F.col("o_orderkey") % 14 == 0))
    return (
        eng.load_table("rt.orders_cc")
        .changes(0)
        .select("o_orderkey", "_change_type")
    )


@q(
    "iceberg_streaming_cdc_updates",
    """
    SELECT o_orderkey, 'insert' AS _change_type, o_totalprice AS price FROM orders
    UNION ALL
    SELECT o_orderkey, 'update_before', o_totalprice FROM orders
    WHERE o_orderkey % 13 = 0
    UNION ALL
    SELECT o_orderkey, 'update_after', o_totalprice + 10 FROM orders
    WHERE o_orderkey % 13 = 0
    """,
)
def iceberg_streaming_cdc_updates(spark, sf_dir):
    """r9: UPDATE detection in the streaming CDC source (VERDICT r8 item
    4). option(with_lineage=true) emits the v3 _row_id per event (explicit
    file values win, else first_row_id + position); pair_update_events
    relabels same-commit delete/insert pairs update_before/update_after —
    exactly Table.changes(with_lineage=True)'s contract, now available to
    streaming upsert consumers. Exercised through the batch flavor of the
    same reader (identical partitions + executor path)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.streaming.cdc_source import (
        pair_update_events,
        register_cdc_source,
    )
    from iceberg_rust_custom_spark.table.maintenance import update_where

    tag = hashlib.md5(f"{sf_dir}:cdcupd".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_upfeed"):
        df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        t = eng.create_table("rt.orders_upfeed", df.schema)
        t.append(df)
        update_where(
            t,
            {"o_totalprice": "o_totalprice + 10"},
            "o_orderkey % 13 = 0",
            mode="merge-on-read",
        )
    fmt = register_cdc_source(spark)
    feed = (
        spark.read.format(fmt)
        .option("warehouse", wh)
        .option("table", "rt.orders_upfeed")
        .option("with_lineage", "true")
        .load()
    )
    return pair_update_events(feed).select(
        "o_orderkey", "_change_type", F.col("o_totalprice").alias("price")
    )


@q(
    "iceberg_mv_delta_storage",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderstatus <> 'F' AND o_orderkey % 9 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_totalprice FROM orders
    WHERE o_orderstatus <> 'F' AND o_orderkey % 100 = 0
    """,
)
def iceberg_mv_delta_storage(spark, sf_dir):
    """r9: delta-sized MV storage commits (VERDICT r8 weak #2). The SPJ
    MV's changelog refresh lands Δ⁻ as MoR equality deletes on the hidden
    source-row-id column and Δ⁺ as an append — ONE atomic commit; no
    pre-existing storage file rewritten (asserted by path in-gate). The
    source history in range even contains a compaction (transparent).
    Oracle = full recompute."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import compact, delete_where
    from iceberg_rust_custom_spark.table.scan import plan_files

    tag = hashlib.md5(f"{sf_dir}:mvdelta".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_mvd"):
        df = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t = eng.create_table("rt.orders_mvd", df.schema)
        t.append(df)
        eng.create_materialized_view(
            "rt.mvd",
            "SELECT o_orderkey, o_totalprice FROM rt.orders_mvd "
            "WHERE o_orderstatus <> 'F'",
        )
        st = eng.load_table("rt.mvd__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(t, "o_orderkey % 9 = 0", mode="merge-on-read")
        t = compact(t)
        t.append(
            df.where(F.col("o_orderkey") % 100 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
        mode = eng.refresh_materialized_view("rt.mvd")
        assert mode == "incremental-changelog", mode
        st = eng.load_table("rt.mvd__storage")
        after = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        assert before <= after, "delta refresh rewrote pre-existing storage files"
    return eng.scan_materialized_view("rt.mvd")


@q(
    "iceberg_mv_join_delta_storage",
    """
    SELECT o.o_orderkey, o.o_totalprice,
           CASE WHEN c.c_custkey % 50 = 0 THEN 'upd' ELSE c.c_name END AS c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 1000 AND o.o_orderkey % 7 <> 0
    """,
)
def iceberg_mv_join_delta_storage(spark, sf_dir):
    """r11 (VERDICT r10 #2): join-MV storage carries hidden (rid_a, rid_b)
    pair lineage; a changelog delta refresh commits Δ⁻ as MoR EQUALITY
    deletes keyed on the pair (bounds-prunable — storage range-clusters
    on rid_a) and Δ⁺ as an append, one atomic commit — asserted in-gate:
    no pre-existing storage file rewritten, tombstones are content=2 with
    equality_ids == the two rid fields, zero position tombstones (the
    content-join fallback's signature). The delta spans a MoR DELETE on
    one source and a MoR UPDATE on the other. Oracle = full recompute."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
    from iceberg_rust_custom_spark.views.incremental import SRC_ROW_ID_A, SRC_ROW_ID_B

    tag = hashlib.md5(f"{sf_dir}:mvjoindelta".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_jd"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
        to = eng.create_table("rt.ord_jd", odf.schema)
        to.append(odf)
        tc = eng.create_table("rt.cust_jd", cdf.schema)
        tc.append(cdf)
        eng.create_materialized_view(
            "rt.mvjd",
            "SELECT o.o_orderkey, o.o_totalprice, c.c_name FROM rt.ord_jd o "
            "JOIN rt.cust_jd c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_totalprice > 1000",
        )
        st = eng.load_table("rt.mvjd__storage")
        schema = st.metadata.current_schema()
        rid_ids = {
            schema.field_by_name(SRC_ROW_ID_A).field_id,
            schema.field_by_name(SRC_ROW_ID_B).field_id,
        }
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(to, "o_orderkey % 7 = 0", mode="merge-on-read")
        update_where(tc, {"c_name": "'upd'"}, "c_custkey % 50 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvjd")
        assert mode == "incremental-changelog-join", mode
        st = eng.load_table("rt.mvjd__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "join delta refresh rewrote pre-existing storage files"
        dels = plan_delete_files(st.metadata, snap)
        eqs = [e.data_file for e in dels if e.data_file.content == 2]
        assert eqs and all(set(d.equality_ids or ()) == rid_ids for d in eqs)
        assert not [e for e in dels if e.data_file.content == 1], "content join ran"
    return eng.scan_materialized_view("rt.mvjd")


@q(
    "iceberg_mv_join3_delta",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           CASE WHEN o.o_orderkey % 31 = 0 THEN o.o_totalprice + 1
                ELSE o.o_totalprice END AS o_totalprice,
           CASE WHEN c.c_custkey % 50 = 0 THEN 'upd' ELSE c.c_name END AS c_name
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_quantity > 10 AND l.l_orderkey % 11 <> 0
    """,
)
def iceberg_mv_join3_delta(spark, sf_dir):
    """r12 (VERDICT r11 #3): three-table join MV delta maintenance via
    triple row lineage. The lineitem⋈orders⋈customer chain takes MoR
    row-level deltas on ALL THREE sources in one refresh window; the
    telescoped arms replay them and the storage commit is Δ⁻ as ONE
    equality-delete set keyed on (rid_a, rid_b, rid_c) + Δ⁺ as an append
    — asserted in-gate: no pre-existing storage file rewritten,
    tombstones are content=2 with equality_ids == the three rid fields,
    zero position tombstones. Oracle = full recompute of the final
    state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files
    from iceberg_rust_custom_spark.views.incremental import (
        SRC_ROW_ID_A,
        SRC_ROW_ID_B,
        SRC_ROW_ID_C,
    )

    tag = hashlib.md5(f"{sf_dir}:mvjoin3".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_j3"):
        ldf = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity"
        )
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
        tl = eng.create_table("rt.li_j3", ldf.schema)
        tl.append(ldf)
        to = eng.create_table("rt.ord_j3", odf.schema)
        to.append(odf)
        tc = eng.create_table("rt.cust_j3", cdf.schema)
        tc.append(cdf)
        eng.create_materialized_view(
            "rt.mvj3",
            "SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice, "
            "c.c_name FROM rt.li_j3 l JOIN rt.ord_j3 o ON l.l_orderkey = o.o_orderkey "
            "JOIN rt.cust_j3 c ON o.o_custkey = c.c_custkey WHERE l.l_quantity > 10",
        )
        st = eng.load_table("rt.mvj3__storage")
        schema = st.metadata.current_schema()
        rid_ids = {
            schema.field_by_name(r).field_id
            for r in (SRC_ROW_ID_A, SRC_ROW_ID_B, SRC_ROW_ID_C)
        }
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(tl, "l_orderkey % 11 = 0", mode="merge-on-read")
        update_where(
            to, {"o_totalprice": "o_totalprice + 1"}, "o_orderkey % 31 = 0",
            mode="merge-on-read",
        )
        update_where(tc, {"c_name": "'upd'"}, "c_custkey % 50 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvj3")
        assert mode == "incremental-join3", mode
        st = eng.load_table("rt.mvj3__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "join3 delta refresh rewrote pre-existing storage files"
        dels = plan_delete_files(st.metadata, snap)
        eqs = [e.data_file for e in dels if e.data_file.content == 2]
        assert eqs and all(set(d.equality_ids or ()) == rid_ids for d in eqs)
        assert not [e for e in dels if e.data_file.content == 1], "content join ran"
    return eng.scan_materialized_view("rt.mvj3")


@q(
    "iceberg_mv_join_agg_delta",
    """
    SELECT c_mktsegment,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
           COUNT(o_orderkey) AS cnt
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        UNION ALL
        SELECT 20000000 + c_custkey, c_custkey, 100.0 FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ) o JOIN (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'BLDG2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    ) c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def iceberg_mv_join_agg_delta(spark, sf_dir):
    """r12 (VERDICT r11 #2): incremental maintenance for join+GROUP BY
    MVs — the TPC-H q5 star shape the reference stubs as empty __delta__
    placeholders (materialized_view.rs:147-159). The delta (a MoR segment
    rename on the dim side + a fact append hitting only that segment)
    affects TWO groups; the refresh recomputes ONLY those and commits Δ⁻
    as equality deletes keyed on the GROUP KEY — asserted in-gate: no
    pre-existing storage file rewritten (untouched groups' files survive
    by path), tombstone key bounds stay inside the affected segment range
    so untouched groups' rows are never victims. Oracle = full recompute
    of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import update_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    tag = hashlib.md5(f"{sf_dir}:mvjoinagg".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_jad"):
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        to = eng.create_table("rt.ord_jad", odf.schema)
        to.append(odf)
        tc = eng.create_table("rt.cust_jad", cdf.schema)
        tc.append(cdf)
        eng.create_materialized_view(
            "rt.mvjad",
            "SELECT c.c_mktsegment, "
            "SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS revenue, "
            "COUNT(o.o_orderkey) AS cnt "
            "FROM rt.ord_jad o JOIN rt.cust_jad c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment",
        )
        st = eng.load_table("rt.mvjad__storage")
        key_id = st.metadata.current_schema().field_by_name("c_mktsegment").field_id
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        # delta confined to one segment: rename BUILDING → BLDG2 (MoR) and
        # append one new order per renamed customer
        bldg = cdf.where("c_mktsegment = 'BUILDING'").select("c_custkey")
        update_where(
            tc, {"c_mktsegment": "'BLDG2'"}, "c_mktsegment = 'BUILDING'",
            mode="merge-on-read",
        )
        to.append(
            bldg.select(
                (F.col("c_custkey") + 20000000).alias("o_orderkey"),
                F.col("c_custkey").alias("o_custkey"),
                F.lit(100.0).alias("o_totalprice"),
            )
        )
        mode = eng.refresh_materialized_view("rt.mvjad")
        assert mode == "incremental-join-aggregate", mode
        st = eng.load_table("rt.mvjad__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "join-agg delta refresh rewrote pre-existing storage files"
        dels = plan_delete_files(st.metadata, snap)
        eqs = [e.data_file for e in dels if e.data_file.content == 2]
        assert eqs, "expected group-keyed equality-delete tombstones"
        assert all(set(d.equality_ids or ()) == {key_id} for d in eqs)
        for d in eqs:  # victim bounds confined to the affected segments
            lo = d.lower_bounds.get("c_mktsegment")
            hi = d.upper_bounds.get("c_mktsegment")
            assert lo is not None and str(lo) >= "B" and str(hi) <= "C", (lo, hi)
        assert not [e for e in dels if e.data_file.content == 1], "content join ran"
    mv = eng.scan_materialized_view("rt.mvjad")
    return mv.select(
        "c_mktsegment", F.round("revenue", 4).cast("double").alias("revenue"), "cnt"
    )


@q(
    "iceberg_mv_q5_star_delta",
    """
    SELECT c_mktsegment,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
           COUNT(l_orderkey) AS cnt
    FROM (SELECT * FROM lineitem WHERE l_orderkey % 13 <> 0) l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 'BLDG2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    ) c ON o.o_custkey = c.c_custkey
    WHERE l.l_quantity > 5
    GROUP BY c_mktsegment
    """,
)
def iceberg_mv_q5_star_delta(spark, sf_dir):
    """r12: the FULL TPC-H q5 star shape as an incrementally-maintained
    MV — 3-table chain (lineitem ⋈ orders ⋈ customer) + GROUP BY the dim
    key. The delta (a MoR segment rename on customer + a MoR delete on
    lineitem) replays through three telescoped probe arms; ONLY the
    affected segments recompute, with the affected keys propagated down
    the star chain (segments → customers → orders → lineitems) as scan
    predicates; the commit is group-keyed equality deletes + an append —
    asserted in-gate: no pre-existing storage file rewritten. Oracle =
    full recompute of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    tag = hashlib.md5(f"{sf_dir}:mvq5star".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_q5"):
        ldf = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        tl = eng.create_table("rt.li_q5", ldf.schema)
        tl.append(ldf)
        to = eng.create_table("rt.ord_q5", odf.schema)
        to.append(odf)
        tc = eng.create_table("rt.cust_q5", cdf.schema)
        tc.append(cdf)
        eng.create_materialized_view(
            "rt.mvq5",
            "SELECT c.c_mktsegment, "
            "SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) AS revenue, "
            "COUNT(l.l_orderkey) AS cnt "
            "FROM rt.li_q5 l JOIN rt.ord_q5 o ON l.l_orderkey = o.o_orderkey "
            "JOIN rt.cust_q5 c ON o.o_custkey = c.c_custkey "
            "WHERE l.l_quantity > 5 GROUP BY c.c_mktsegment",
        )
        st = eng.load_table("rt.mvq5__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        update_where(
            tc, {"c_mktsegment": "'BLDG2'"}, "c_mktsegment = 'BUILDING'",
            mode="merge-on-read",
        )
        delete_where(tl, "l_orderkey % 13 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvq5")
        assert mode == "incremental-join3-aggregate", mode
        st = eng.load_table("rt.mvq5__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "q5-star delta refresh rewrote pre-existing storage files"
        assert [
            e.data_file for e in plan_delete_files(st.metadata, snap)
            if e.data_file.content == 2
        ], "expected group-keyed equality-delete tombstones"
    mv = eng.scan_materialized_view("rt.mvq5")
    return mv.select(
        "c_mktsegment", F.round("revenue", 4).cast("double").alias("revenue"), "cnt"
    )


@q(
    "iceberg_mv_q5_real_delta",
    """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
           COUNT(l_orderkey) AS cnt
    FROM (SELECT * FROM lineitem WHERE l_orderkey % 13 <> 0) l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN (
        SELECT n_nationkey,
               CASE WHEN n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
                    THEN n_name || '_x' ELSE n_name END AS n_name,
               n_regionkey
        FROM nation
    ) n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def iceberg_mv_q5_real_delta(spark, sf_dir):
    """r13 (VERDICT r12 #1): the REAL TPC-H q5 — a SIX-table star
    (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with a
    region filter and GROUP BY nation) — as an incrementally-maintained
    MV. The r12 machinery hard-coded 3 slots; the r13 generalization
    loops the telescoped delta arms over a relation LIST, so the delta
    (a MoR rename of every ASIA nation + a MoR delete on lineitem)
    refreshes via affected-group recompute: 6 probe arms find the
    affected nations, the recompute pushes them down the star chain
    (nation → supplier/customer → orders → lineitem) as scan predicates,
    and the commit is group-keyed equality deletes + an append —
    asserted in-gate: no pre-existing storage file rewritten. The
    reference registers __delta__ placeholders for exactly this and
    never implements it (materialized_view.rs:147-159). Oracle = full
    recompute of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    tag = hashlib.md5(f"{sf_dir}:mvq5real".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.li_q5r"):
        ldf = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
        odf = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        sdf = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        ndf = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        rdf = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
        for name, df in (
            ("rt.li_q5r", ldf), ("rt.ord_q5r", odf), ("rt.cust_q5r", cdf),
            ("rt.sup_q5r", sdf), ("rt.nat_q5r", ndf), ("rt.reg_q5r", rdf),
        ):
            t = eng.create_table(name, df.schema)
            t.append(df)
        eng.create_materialized_view(
            "rt.mvq5r",
            "SELECT n.n_name, "
            "SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) AS revenue, "
            "COUNT(l.l_orderkey) AS cnt "
            "FROM rt.cust_q5r c "
            "JOIN rt.ord_q5r o ON c.c_custkey = o.o_custkey "
            "JOIN rt.li_q5r l ON l.l_orderkey = o.o_orderkey "
            "JOIN rt.sup_q5r s ON l.l_suppkey = s.s_suppkey "
            "AND c.c_nationkey = s.s_nationkey "
            "JOIN rt.nat_q5r n ON s.s_nationkey = n.n_nationkey "
            "JOIN rt.reg_q5r r ON n.n_regionkey = r.r_regionkey "
            "WHERE r.r_name = 'ASIA' GROUP BY n.n_name",
        )
        st = eng.load_table("rt.mvq5r__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        asia = (
            eng.table("rt.reg_q5r").where("r_name = 'ASIA'").first().r_regionkey
        )
        update_where(
            eng.load_table("rt.nat_q5r"),
            {"n_name": "concat(n_name, '_x')"},
            f"n_regionkey = {asia}",
            mode="merge-on-read",
        )
        delete_where(
            eng.load_table("rt.li_q5r"), "l_orderkey % 13 = 0", mode="merge-on-read"
        )
        mode = eng.refresh_materialized_view("rt.mvq5r")
        assert mode == "incremental-join6-aggregate", mode
        st = eng.load_table("rt.mvq5r__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "real-q5 delta refresh rewrote pre-existing storage files"
        assert [
            e.data_file for e in plan_delete_files(st.metadata, snap)
            if e.data_file.content == 2
        ], "expected group-keyed equality-delete tombstones"
    mv = eng.scan_materialized_view("rt.mvq5r")
    return mv.select(
        "n_name", F.round("revenue", 4).cast("double").alias("revenue"), "cnt"
    )


@q(
    "iceberg_mv_left_join_delta",
    """
    SELECT o_orderkey, o_totalprice, c_name
    FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_orderkey % 11 <> 0) o
    LEFT JOIN (SELECT c_custkey, c_name FROM customer
               WHERE (c_custkey % 3 <> 0 OR c_custkey % 6 = 0)
                 AND c_custkey % 15 <> 3) c
      ON o.o_custkey = c.c_custkey
    """,
)
def iceberg_mv_left_join_delta(spark, sf_dir):
    """r13 (VERDICT r12 #2): LEFT-outer-join SPJ MV maintenance with
    null-extension repair. The dim starts with a third of the customers
    missing (those orders are null-extended); the delta then (a) INSERTS
    some of the missing customers — flipping specific fact rows from
    null-extended to matched, (b) MoR-DELETES other customers — flipping
    their facts back, and (c) MoR-deletes facts. Maintenance is
    affected-A-row recompute: eq-delete by rid_a alone (catches matched
    AND null-extended rows), re-derive against B_new — asserted in-gate:
    refresh flavor, no pre-existing storage file rewritten. Oracle =
    full recompute of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where
    from iceberg_rust_custom_spark.table.scan import plan_files

    tag = hashlib.md5(f"{sf_dir}:mvleftjoin".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_lj"):
        odf = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
        to = eng.create_table("rt.ord_lj", odf.schema)
        to.append(odf)
        tc = eng.create_table("rt.cust_lj", cdf.schema)
        tc.append(cdf.where("c_custkey % 3 <> 0"))
        eng.create_materialized_view(
            "rt.mvlj",
            "SELECT o.o_orderkey, o.o_totalprice, c.c_name "
            "FROM rt.ord_lj o LEFT JOIN rt.cust_lj c ON o.o_custkey = c.c_custkey",
        )
        st = eng.load_table("rt.mvlj__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        # dim inserts flip null-extended rows to matched
        tc.append(cdf.where("c_custkey % 6 = 0"))
        # dim deletes flip matched rows back to null-extended
        delete_where(tc, "c_custkey % 15 = 3", mode="merge-on-read")
        # fact deletes leave entirely
        delete_where(to, "o_orderkey % 11 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvlj")
        assert mode == "incremental-left-join", mode
        st = eng.load_table("rt.mvlj__storage")
        after = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        assert before <= after, "left-join delta refresh rewrote pre-existing storage files"
    return eng.scan_materialized_view("rt.mvlj")


@q(
    "iceberg_mv_time_rollup_delta",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
           CAST(ROUND(AVG(value), 6) AS DOUBLE) AS av,
           COUNT(*) AS n
    FROM (SELECT * FROM events WHERE event_id % 7 <> 0)
    GROUP BY 1
    """,
)
def iceberg_mv_time_rollup_delta(spark, sf_dir):
    """r13 (VERDICT r12 #3): the standard time-rollup MV —
    ``GROUP BY date_trunc('day', ts)`` with the non-decomposable AVG —
    maintained by affected-group recompute: the probe projects the
    bucket keys over the delta, the recompute re-scans the source with
    the RAW-column envelope ``ts ∈ [min_bucket, max_bucket + 1 day]``
    pushed down (file-pruned on a ts-clustered table), and the commit is
    bucket-keyed equality deletes + an append. The delta here is a MoR
    delete scattered across a few days; only those day-buckets leave and
    re-enter storage — asserted in-gate. Oracle = full recompute."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where
    from iceberg_rust_custom_spark.table.scan import plan_delete_files, plan_files

    tag = hashlib.md5(f"{sf_dir}:mvrollup".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ev_ru"):
        edf = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
        t = eng.create_table(
            "rt.ev_ru",
            edf.schema,
            sort_by=["ts"],
            properties={"write.distribution-mode": "range"},
        )
        t.append(edf)
        eng.create_materialized_view(
            "rt.mvru",
            "SELECT date_trunc('day', ts) AS d, avg(value) AS av, count(*) AS n "
            "FROM rt.ev_ru GROUP BY date_trunc('day', ts)",
        )
        st = eng.load_table("rt.mvru__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(t, "event_id % 7 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvru")
        assert mode == "incremental-agg-recompute", mode
        st = eng.load_table("rt.mvru__storage")
        snap = st.metadata.snapshot_for_ref()
        after = {f.file_path for f in plan_files(st.metadata, snap)}
        assert before <= after, "rollup delta refresh rewrote pre-existing storage files"
        assert [
            e.data_file for e in plan_delete_files(st.metadata, snap)
            if e.data_file.content == 2
        ], "expected bucket-keyed equality-delete tombstones"
    mv = eng.scan_materialized_view("rt.mvru")
    return mv.select("d", F.round("av", 6).cast("double").alias("av"), "n")


@q(
    "iceberg_mv_join_rollup_delta",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
           c_mktsegment,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS rev,
           COUNT(o_orderkey) AS n
    FROM (SELECT * FROM orders WHERE o_orderkey % 9 <> 0) o
    JOIN (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 2 THEN c_mktsegment || '_x'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    ) c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def iceberg_mv_join_rollup_delta(spark, sf_dir):
    """r13: the time-rollup-over-a-join MV — GROUP BY
    date_trunc('month', fact date) + dim segment. The r12 classifier
    rejected expression group keys outright (full refresh); the r13
    affected-group recompute admits them, pruning the fact by the
    RAW-column envelope of the affected months (date column: timestamp
    bounds cast to dates) and the dim by the affected segment values.
    Delta = a MoR delete on orders + a MoR segment rename on customer;
    asserted in-gate: refresh flavor, no pre-existing storage file
    rewritten. Oracle = full recompute of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where, update_where
    from iceberg_rust_custom_spark.table.scan import plan_files

    tag = hashlib.md5(f"{sf_dir}:mvjoinrollup".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ord_jr"):
        odf = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
        )
        cdf = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        to = eng.create_table(
            "rt.ord_jr",
            odf.schema,
            sort_by=["o_orderdate"],
            properties={"write.distribution-mode": "range"},
        )
        to.append(odf)
        tc = eng.create_table("rt.cust_jr", cdf.schema)
        tc.append(cdf)
        eng.create_materialized_view(
            "rt.mvjr",
            "SELECT date_trunc('month', o.o_orderdate) AS mo, c.c_mktsegment, "
            "SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS rev, "
            "COUNT(o.o_orderkey) AS n "
            "FROM rt.ord_jr o JOIN rt.cust_jr c ON o.o_custkey = c.c_custkey "
            "GROUP BY date_trunc('month', o.o_orderdate), c.c_mktsegment",
        )
        st = eng.load_table("rt.mvjr__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(to, "o_orderkey % 9 = 0", mode="merge-on-read")
        update_where(
            tc, {"c_mktsegment": "concat(c_mktsegment, '_x')"}, "c_custkey % 5 = 2",
            mode="merge-on-read",
        )
        mode = eng.refresh_materialized_view("rt.mvjr")
        assert mode == "incremental-join-aggregate", mode
        st = eng.load_table("rt.mvjr__storage")
        after = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        assert before <= after, "join-rollup delta refresh rewrote pre-existing storage files"
    mv = eng.scan_materialized_view("rt.mvjr")
    return mv.select(
        "mo", "c_mktsegment", F.round("rev", 4).cast("double").alias("rev"), "n"
    )


@q(
    "iceberg_mv_having_delta",
    """
    SELECT user_id,
           COUNT(*) AS n,
           CAST(ROUND(AVG(value), 6) AS DOUBLE) AS av
    FROM (SELECT * FROM events WHERE event_id % 5 <> 0)
    GROUP BY user_id HAVING COUNT(*) >= 55
    """,
)
def iceberg_mv_having_delta(spark, sf_dir):
    """r13: HAVING on an incrementally-maintained aggregate MV. The
    partial-merge path cannot drop HAVING-failing groups, so HAVING
    routes to the affected-group recompute, which evaluates it naturally:
    the probe finds affected groups WITHOUT the filter (a group that just
    fell below the threshold must still be eq-deleted) and the recompute
    re-applies it — here a MoR delete pushes ~half the users below the
    COUNT(*) >= 55 threshold and they DISAPPEAR from the MV (140 → 61
    groups at sf0.01), asserted incremental in-gate. Oracle = full
    recompute of the final state."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_where
    from iceberg_rust_custom_spark.table.scan import plan_files

    tag = hashlib.md5(f"{sf_dir}:mvhaving".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.ev_hv"):
        edf = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
        t = eng.create_table(
            "rt.ev_hv",
            edf.schema,
            sort_by=["user_id"],
            properties={"write.distribution-mode": "range"},
        )
        t.append(edf)
        eng.create_materialized_view(
            "rt.mvhv",
            "SELECT user_id, count(*) AS n, avg(value) AS av "
            "FROM rt.ev_hv GROUP BY user_id HAVING count(*) >= 55",
        )
        st = eng.load_table("rt.mvhv__storage")
        before = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        delete_where(t, "event_id % 5 = 0", mode="merge-on-read")
        mode = eng.refresh_materialized_view("rt.mvhv")
        assert mode == "incremental-agg-recompute", mode
        st = eng.load_table("rt.mvhv__storage")
        after = {
            f.file_path for f in plan_files(st.metadata, st.metadata.snapshot_for_ref())
        }
        assert before <= after, "HAVING delta refresh rewrote pre-existing storage files"
    mv = eng.scan_materialized_view("rt.mvhv")
    return mv.select("user_id", "n", F.round("av", 6).cast("double").alias("av"))


@q(
    "iceberg_timestamp_ns_lossless",
    """
    SELECT o_orderkey, 1700000000000000000 + o_orderkey * 1000 + 789 AS ts_ns
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
)
def iceberg_timestamp_ns_lossless(spark, sf_dir):
    """r9: lossless v3 nanosecond timestamps (VERDICT r8 missing #3). With
    the CREATE-time property write.timestamp-ns.mode=long, timestamp_ns
    columns surface and store as LongType nanoseconds END-TO-END — the
    sub-µs digit (…789) survives the write, a MoR delete, a compaction
    (which re-reads and re-writes every row), and the scan; the default
    mode documents µs truncation at the Spark boundary instead."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.metadata.schema import NestedField, Schema
    from iceberg_rust_custom_spark.table.maintenance import compact, delete_where

    tag = hashlib.md5(f"{sf_dir}:nsloss".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_ns"):
        schema = Schema(
            0,
            (
                NestedField(1, "o_orderkey", "long", True),
                NestedField(2, "ts_ns", "timestamp_ns", False),
            ),
        )
        t = eng.create_table(
            "rt.orders_ns", schema, properties={"write.timestamp-ns.mode": "long"}
        )
        df = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            (F.lit(1700000000000000000) + F.col("o_orderkey") * 1000 + 789).alias(
                "ts_ns"
            ),
        )
        t.append(df)
        delete_where(t, "o_orderkey % 3 = 0", mode="merge-on-read")
        t = compact(t)  # full re-read + re-write must not lose a digit
    return eng.load_table("rt.orders_ns").scan()


@q(
    "iceberg_cdc_variant_feed",
    """
    SELECT o_orderkey, o_orderstatus AS s, 'insert' AS _change_type FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'delete' FROM orders WHERE o_orderkey % 11 = 0
    """,
)
def iceberg_cdc_variant_feed(spark, sf_dir):
    """r9: variant columns flow through the CDC source (VERDICT r8 missing
    #2 — previously refused). Executors emit the physical JSON text;
    decode_variant_columns restores VariantType at the reader boundary
    (the scan's logical/physical split), and typed extraction works on
    the feed — a MoR pipeline over a variant-bearing table can now be
    followed."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.streaming.cdc_source import (
        decode_variant_columns,
        register_cdc_source,
    )
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:cdcvar".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_var"):
        eng.sql(
            "CREATE TABLE rt.orders_var (o_orderkey BIGINT, v VARIANT) STORED AS ICEBERG"
        )
        df = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.to_json(F.struct(F.col("o_orderstatus").alias("s"))).alias("v"),
        )
        t = eng.load_table("rt.orders_var")
        t.append(df)
        delete_where(t, "o_orderkey % 11 = 0", mode="merge-on-read")
    fmt = register_cdc_source(spark)
    opts = {"warehouse": wh, "table": "rt.orders_var"}
    feed = spark.read.format(fmt).options(**opts).load()
    return decode_variant_columns(feed, opts).select(
        "o_orderkey",
        F.variant_get("v", "$.s", "string").alias("s"),
        "_change_type",
    )


_WKB_BY_MOD4 = {
    0: "010100000000000000000000000000000000000000",
    1: "0101000000000000000000F03F000000000000F0BF",
    2: "0101000000000000000000004000000000000000C0",
    3: "0101000000000000000000084000000000000008C0",
}
_WKB_CASE = (
    "CASE o_orderkey % 4 "
    + " ".join(f"WHEN {m} THEN '{h}'" for m, h in _WKB_BY_MOD4.items())
    + " END"
)


@q(
    "iceberg_cdc_geo_feed",
    f"""
    SELECT o_orderkey AS k, {_WKB_CASE} AS gw, 'insert' AS _change_type
    FROM orders
    UNION ALL
    SELECT o_orderkey, {_WKB_CASE}, 'delete'
    FROM orders WHERE o_orderkey % 13 = 0
    """,
)
def iceberg_cdc_geo_feed(spark, sf_dir):
    """r10: geometry columns flow through the CDC source (VERDICT r9
    missing #1 — the last unfollowable column type, previously refused).
    Executors emit the physical WKB binary; decode_geo_columns restores the
    logical geo type with the declared SRID at the reader boundary (the
    scan's logical/physical split); the decode→re-encode round trip is
    byte-identical, hash-verified here against WKB literals the oracle
    reproduces (point(m, -m) for m = key % 4)."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.streaming.cdc_source import (
        decode_geo_columns,
        register_cdc_source,
    )
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    tag = hashlib.md5(f"{sf_dir}:cdcgeo".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_geo"):
        eng.sql(
            "CREATE TABLE rt.orders_geo (k BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG"
        )
        wkb_case = F.when(F.col("o_orderkey") % 4 == 0, F.lit(_WKB_BY_MOD4[0]))
        for m in (1, 2, 3):
            wkb_case = wkb_case.when(F.col("o_orderkey") % 4 == m, F.lit(_WKB_BY_MOD4[m]))
        df = _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"), F.unhex(wkb_case).alias("g")
        )
        t = eng.load_table("rt.orders_geo")
        t.append(df)
        delete_where(t, "k % 13 = 0", mode="merge-on-read")
    fmt = register_cdc_source(spark)
    opts = {"warehouse": wh, "table": "rt.orders_geo"}
    feed = spark.read.format(fmt).options(**opts).load()
    return decode_geo_columns(feed, opts).select(
        "k", F.hex(F.st_asbinary("g")).alias("gw"), "_change_type"
    )


@q(
    "iceberg_eq_delete_multipart",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey > 2000
    """,
)
def iceberg_eq_delete_multipart(spark, sf_dir):
    """r10 (VERDICT r9 weak #1): a Δ⁻ past write.eq-delete.target-rows is
    NOT funneled through one task — the distinct keys range-partition on
    the key columns into one content=2 file per part, each with disjoint
    footer key bounds (tight per-file pruning). Asserts >1 delete file and
    disjoint bounds in-gate; the scan's answer is oracle-checked."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import delete_by_key
    from iceberg_rust_custom_spark.table.scan import plan_delete_files

    tag = hashlib.md5(f"{sf_dir}:eqmp".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_eqmp"):
        df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        t = eng.create_table(
            "rt.orders_eqmp",
            df.schema,
            properties={"write.eq-delete.target-rows": "500"},
        )
        t.append(df)
        keys = df.where(F.col("o_orderkey") <= 2000).select("o_orderkey")
        t = delete_by_key(t, keys)
        eqs = [
            e
            for e in plan_delete_files(t.metadata, t.metadata.snapshot_for_ref())
            if e.data_file.content == 2
        ]
        assert len(eqs) >= 2, "large key set must split into multiple delete files"
        ranges = sorted(
            (e.data_file.lower_bounds["o_orderkey"], e.data_file.upper_bounds["o_orderkey"])
            for e in eqs
        )
        assert all(h1 < l2 for (_, h1), (l2, _) in zip(ranges, ranges[1:]))
    return eng.load_table("rt.orders_eqmp").scan()


@q(
    "iceberg_expiry_safe_changelog",
    """
    SELECT o_orderkey, 'insert' AS _change_type FROM orders
    """,
)
def iceberg_expiry_safe_changelog(spark, sf_dir):
    """r10 (VERDICT r9 missing #3): the expiry-vs-follower contract, with
    the replay floor. Expiring plain APPENDS loses nothing — their files
    keep their sequence numbers in the surviving manifests, and
    ``expire_snapshots`` stamps ``changelog.replay-floor`` so changes(0)
    still replays the FULL history exactly (oracle-checked: every row as
    an insert). Expiring a REWRITE raises the floor: a range below it
    refuses with a resync error — asserted in-gate — never a silent skip
    of erased events."""
    import hashlib
    import os

    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.maintenance import compact, expire_snapshots

    tag = hashlib.md5(f"{sf_dir}:expcl2".encode()).hexdigest()[:12]
    wh = os.path.join("/tmp", "iceberg_rust_custom_spark_wh", tag)
    eng = Engine(spark, warehouse=wh)
    if not eng.table_exists("rt.orders_exp"):
        df = _t(spark, sf_dir, "orders").select("o_orderkey")
        t = eng.create_table("rt.orders_exp", df.schema)
        for m in range(3):  # one commit per residue class, in order
            t.append(df.where(F.col("o_orderkey") % 3 == m))
        t = expire_snapshots(t, keep_last=1)  # removes two plain appends
        assert t.metadata.properties.get("changelog.replay-floor") == "0"
        # negative contract: a REMOVED rewrite raises the floor and ranges
        # below it refuse loudly
        t2 = eng.create_table("rt.orders_exp_neg", df.schema)
        t2.append(df.limit(100))
        t2 = compact(t2)
        t2.append(df.limit(50))
        t2 = expire_snapshots(t2, keep_last=1)
        try:
            t2.changes(0).count()
            raise AssertionError("below-floor range must refuse, not replay")
        except ValueError:
            pass
    t = eng.load_table("rt.orders_exp")
    return t.changes(0).select("o_orderkey", "_change_type")
