"""``Engine.sql`` front-door cost for a first-seen query and a repeated one.

Creates the six TPC-H q5 relations and ``bench.lineitem`` (one row each) in
a temporary warehouse, then times ``Engine.sql`` — parse, relation binding
and Catalyst analysis; it builds a DataFrame and runs no Spark job — for
the real q5 view and perfbench's ``AGG_SQL``. Per query, medians of N
calls in milliseconds:

* ``first_ms`` — the parse memo cleared before each call, as for a text
  seen for the first time (a checkout without the memo times its only
  path);
* ``hit_ms`` — repeated calls on a warm memo;
* ``parse_first_ms`` / ``parse_hit_ms`` — ``views/sql_plan.parse`` alone,
  where the checkout has it.

Run it against the checkout to measure (the package is imported from
``PYTHONPATH``):

    PYTHONPATH=<checkout> python tools/sql_front_door_cost.py [N]
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import tempfile
import time

Q5_SQL = (
    "SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
    "FROM tpch.customer c "
    "JOIN tpch.orders o ON c.c_custkey = o.o_custkey "
    "JOIN tpch.lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN tpch.supplier s ON l.l_suppkey = s.s_suppkey "
    "AND c.c_nationkey = s.s_nationkey "
    "JOIN tpch.nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN tpch.region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'R1' GROUP BY n.n_name"
)
AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n"
    " FROM bench.lineitem GROUP BY l_returnflag, l_linestatus"
)
TABLES = {
    "tpch.customer": "1L AS c_custkey, 1L AS c_nationkey",
    "tpch.orders": "1L AS o_orderkey, 1L AS o_custkey",
    "tpch.lineitem": "1L AS l_orderkey, 1L AS l_suppkey, 1.0D AS l_extendedprice, "
    "0.1D AS l_discount",
    "tpch.supplier": "1L AS s_suppkey, 1L AS s_nationkey",
    "tpch.nation": "1L AS n_nationkey, 'N1' AS n_name, 1L AS n_regionkey",
    "tpch.region": "1L AS r_regionkey, 'R1' AS r_name",
    "bench.lineitem": "'A' AS l_returnflag, 'F' AS l_linestatus, 1.0D AS l_quantity",
}


def _median_ms(fn, n: int) -> float:
    times = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return round(statistics.median(times) * 1000, 3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 21
    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.session import get_spark

    try:
        from iceberg_rust_custom_spark.views import sql_plan
    except ImportError:  # a checkout that reads SQL with regexes
        sql_plan = None
    spark = get_spark("sql_front_door_cost", shuffle_partitions=2)
    wh = tempfile.mkdtemp(prefix="sqlcost-")
    try:
        eng = Engine(spark, warehouse=wh)
        for name, cols in TABLES.items():
            df = spark.sql(f"SELECT {cols}")
            eng.create_table(name, df.schema).append(df)
        for label, sql in (("q5", Q5_SQL), ("agg", AGG_SQL)):
            for _ in range(3):  # warm the JVM paths
                eng.sql(sql)
            out = {"query": label}

            def first():
                if sql_plan is not None:
                    sql_plan.parse.cache_clear()
                eng.sql(sql)

            out["first_ms"] = _median_ms(first, n)
            out["hit_ms"] = _median_ms(lambda: eng.sql(sql), n)
            if sql_plan is not None:

                def parse_first():
                    sql_plan.parse.cache_clear()
                    sql_plan.parse(spark, sql)

                out["parse_first_ms"] = _median_ms(parse_first, n)
                out["parse_hit_ms"] = _median_ms(lambda: sql_plan.parse(spark, sql), n)
            print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
