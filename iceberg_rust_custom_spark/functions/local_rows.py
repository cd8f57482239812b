"""Driver-local rows → DataFrame via Arrow, skipping the Python-RDD path.

``spark.createDataFrame(list_of_tuples, schema)`` routes through
``applySchemaToPythonRDD``: every action on the frame (and on every plan
that joins it — e.g. the broadcast file→sequence maps inside each MoR
scan) runs a ``Scan ExistingRDD`` stage that pickles rows through a Python
worker. Measured on the r14 harness box: ~0.7 s per count() for a 16-row
map vs ~0.15 s via an Arrow table, which lands as a pure-JVM
``LocalTableScan`` (guide §4: eliminate the JVM↔Python boundary; §6 Arrow
for driver transfers). These tiny driver-known maps are on the hot path of
every iceberg_* gate query, so the fixed cost repeats per scan.

``local_rows_df`` converts through ``pyarrow.Table`` when the rows/schema
allow it (zero rows skip Arrow too: the JVM builds the empty relation) and
silently falls back to the classic path otherwise (exotic
types such as variant/geometry, struct values carried as Row objects, …) —
results are identical either way, only the execution plan of the local
relation changes. Both routes read values the classic way: a Mapping row
by field name, a tuple/Row by position (a length mismatch raises), and a
naive top-level ``TimestampType`` value as driver-local wall-clock time —
the form ``collect()`` returns it in — so a collected row round-trips
unchanged on a machine in any timezone.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _has_timestamp(dt) -> bool:
    if isinstance(dt, T.TimestampType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    return False


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` preferring the Arrow
    local-table route. ``rows``: iterable of tuples/Rows/Mappings (or
    plain objects, read by attribute on the classic path);
    ``schema``: a StructType or DDL string."""
    st = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        # zero rows need no Arrow batch: the JVM builds the typed empty
        # LocalRelation itself (about a third of the Arrow route's cost)
        jspark = spark._jsparkSession
        return DataFrame(
            jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jspark.parseDataType(st.json())),
            spark,
        )
    norm = []
    for r in rows:
        if isinstance(r, Mapping):
            norm.append(tuple(r.get(n) for n in st.names))
        elif isinstance(r, (tuple, list)):
            if len(r) != len(st.names):
                raise ValueError(
                    f"row has {len(r)} values, schema has {len(st.names)} fields: {r!r}"
                )
            norm.append(tuple(r))
        else:  # plain objects: the classic path reads their attributes
            return spark.createDataFrame(rows, st)
    top_ts = [isinstance(f.dataType, T.TimestampType) for f in st.fields]
    # a timestamp nested in a struct/array/map has no cheap fix-up below
    if not any(
        _has_timestamp(f.dataType) and not is_ts for f, is_ts in zip(st.fields, top_ts)
    ):
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(st)
            columns = list(zip(*norm)) if norm else [()] * len(st.fields)
            # pyarrow reads a naive datetime as UTC, the classic path as
            # driver-local time: hand Arrow the classic path's epoch micros
            tbl = pa.Table.from_arrays(
                [
                    pa.array(
                        [T.TimestampType().toInternal(v) for v in col] if is_ts else list(col),
                        type=af.type,
                    )
                    for col, is_ts, af in zip(columns, top_ts, arrow_schema)
                ],
                schema=arrow_schema,
            )
            return spark.createDataFrame(tbl)
        except Exception:
            pass
    return spark.createDataFrame(norm, st)
