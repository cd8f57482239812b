"""Iceberg v3 geometry/geography columns (the last v3 type family):
logical Spark 4 GeometryType/GeographyType, physical WKB binary storage
(metadata/schema.py physical_spark_schema — the same logical/physical
split as variant), st_geomfromwkb/st_asbinary converting at the scan and
write boundaries. Reference has no v3 at all; spec: v3 'geometry(C)' /
'geography(C, A)' with CRS default OGC:CRS84."""

import struct

import pytest
from pyspark.sql import functions as F

from iceberg_rust_custom_spark.engine import Engine


def _wkb_point(x: float, y: float) -> bytearray:
    return bytearray(struct.pack("<BIdd", 1, 1, x, y))


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_type_mapping_roundtrip():
    from pyspark.sql import types as T

    from iceberg_rust_custom_spark.metadata.schema import (
        _primitive_to_spark,
        spark_type_to_iceberg,
    )

    assert _primitive_to_spark("geometry") == T.GeometryType(4326)
    assert _primitive_to_spark("geometry(OGC:CRS84)") == T.GeometryType(4326)
    assert _primitive_to_spark("geometry(EPSG:3857)") == T.GeometryType(3857)
    assert _primitive_to_spark("geography") == T.GeographyType(4326)
    # Spark's SRS registry may not know a CRS as geographic — degrade to
    # the default SRID; the Iceberg type string keeps the identifier
    assert isinstance(_primitive_to_spark("geography(EPSG:9999, karney)"), T.GeographyType)
    assert spark_type_to_iceberg(T.GeometryType(4326)) == "geometry"
    assert spark_type_to_iceberg(T.GeometryType(3857)) == "geometry(EPSG:3857)"
    assert spark_type_to_iceberg(T.GeographyType(4326)) == "geography"


def test_geometry_column_wkb_roundtrip(eng, spark):
    """WKB in → logical geometry out of the scan (with SRID) → WKB bytes
    identical after st_asbinary; footer stats exist (counts) but carry no
    lexical bounds for the geo column."""
    eng.sql("CREATE TABLE ns.geo (id BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG")
    t = eng.load_table("ns.geo")
    rows = [(i, _wkb_point(float(i), float(-i))) for i in range(8)]
    t.append(spark.createDataFrame(rows, "id long, g binary"))

    df = t.scan()
    assert df.schema["g"].dataType.typeName().startswith("geometry")
    out = df.select("id", F.st_srid("g").alias("srid"), F.st_asbinary("g").alias("b"))
    got = {(r.id, r.srid, bytes(r.b)) for r in out.collect()}
    assert got == {(i, 4326, bytes(_wkb_point(float(i), float(-i)))) for i in range(8)}

    from iceberg_rust_custom_spark.table.scan import plan_files

    files = plan_files(t.metadata, t.metadata.snapshot_for_ref())
    assert files
    for f in files:
        assert "g" not in f.lower_bounds and "g" not in f.upper_bounds
    assert sum(f.value_counts.get("g", 0) for f in files) == 8


def test_geometry_survives_row_level_ops_and_compaction(eng, spark):
    from iceberg_rust_custom_spark.table.maintenance import (
        compact,
        delete_where,
        update_where,
    )

    eng.sql("CREATE TABLE ns.geo2 (id BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG")
    t = eng.load_table("ns.geo2")
    t.append(
        spark.createDataFrame(
            [(i, _wkb_point(float(i), 0.0)) for i in range(6)], "id long, g binary"
        )
    )
    t = delete_where(t, "id = 0", mode="merge-on-read")
    t = delete_where(t, "id = 1", mode="copy-on-write")
    t = update_where(t, {"id": "id + 10"}, "id = 2", mode="copy-on-write")
    t = compact(t)
    got = {
        (r.id, bytes(r.b))
        for r in t.scan().select("id", F.st_asbinary("g").alias("b")).collect()
    }
    assert got == {
        (12, bytes(_wkb_point(2.0, 0.0))),
        (3, bytes(_wkb_point(3.0, 0.0))),
        (4, bytes(_wkb_point(4.0, 0.0))),
        (5, bytes(_wkb_point(5.0, 0.0))),
    }


def test_geography_and_insert_select_path(eng, spark):
    """GEOGRAPHY column through SQL INSERT … SELECT; logical type comes
    back as geography with the declared SRID."""
    eng.sql("CREATE TABLE ns.gg (id BIGINT, g GEOGRAPHY(4326)) STORED AS ICEBERG")
    src = spark.createDataFrame(
        [(1, _wkb_point(10.0, 20.0)), (2, _wkb_point(-30.0, 45.0))], "id long, g binary"
    )
    eng.load_table("ns.gg").append(src)
    df = eng.sql("SELECT id, g FROM ns.gg")
    assert df.schema["g"].dataType.typeName().startswith("geography")
    got = {(r.id, r.srid, bytes(r.b)) for r in df.select(
        "id", F.st_srid("g").alias("srid"), F.st_asbinary("g").alias("b")
    ).collect()}
    assert got == {
        (1, 4326, bytes(_wkb_point(10.0, 20.0))),
        (2, 4326, bytes(_wkb_point(-30.0, 45.0))),
    }


def test_geo_typed_dataframe_write_path(eng, spark):
    """Appending a DataFrame that already carries GeometryType values
    (e.g. the output of another scan) serializes back to WKB physical."""
    eng.sql("CREATE TABLE ns.g3 (id BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG")
    t = eng.load_table("ns.g3")
    t.append(spark.createDataFrame([(1, _wkb_point(7.0, 8.0))], "id long, g binary"))
    logical = t.scan()  # g is GeometryType here
    t.append(logical.withColumn("id", F.col("id") + 1))
    got = {(r.id, bytes(r.b)) for r in t.scan().select(
        "id", F.st_asbinary("g").alias("b")
    ).collect()}
    assert got == {(1, bytes(_wkb_point(7.0, 8.0))), (2, bytes(_wkb_point(7.0, 8.0)))}
    # metadata records the Iceberg type string, not a Spark name
    assert t.metadata.current_schema().field_by_name("g").field_type == "geometry"


def test_evolved_table_changes_decodes_geo(eng, spark):
    """ADVICE r8: incremental_scan's evolved-table branch (field-id
    resolution) must surface geo columns as LOGICAL geometry like the
    single-schema branch — otherwise changes() unions a WKB-binary insert
    side with decoded victims and type-mismatches."""
    from pyspark.sql import types as T

    eng.sql("CREATE TABLE ns.ge (id BIGINT, g GEOMETRY(4326)) STORED AS ICEBERG")
    t = eng.load_table("ns.ge")
    t.append(
        spark.range(4).select(
            F.col("id"), F.lit(bytes(_wkb_point(1.0, 2.0))).alias("g")
        )
    )
    t.update_schema().rename_column("id", "key").commit()  # → evolved (2 schemas)
    t.append(
        spark.range(2).select(
            (F.col("id") + 10).alias("key"),
            F.lit(bytes(_wkb_point(3.0, 4.0))).alias("g"),
        )
    )
    inc = t.incremental_scan(0)
    assert isinstance(inc.schema["g"].dataType, T.GeometryType)
    ch = t.changes(0)
    assert isinstance(ch.schema["g"].dataType, T.GeometryType)
    assert ch.count() == 6
    # and a changes() range over an evolved table WITH victims unions fine
    from iceberg_rust_custom_spark.table.maintenance import delete_where

    delete_where(t, "key < 2", mode="merge-on-read")
    ch2 = t.changes(0)
    assert ch2.where("_change_type = 'delete'").count() == 2
    xs = [
        r[0]
        for r in ch2.where("_change_type = 'delete'").selectExpr("hex(st_asbinary(g))").collect()
    ]
    assert len(xs) == 2 and len(set(xs)) == 1
    # merge-on-read UPDATE / DELETE whose predicate evaluates a geo
    # function: the matched-file read of an evolved table must surface
    # logical geometry, or st_asbinary(g) fails on WKB binary with a
    # DATATYPE_MISMATCH
    from iceberg_rust_custom_spark.table.maintenance import update_where

    p12 = "0101000000000000000000F03F0000000000000040"  # POINT(1 2)
    p34 = "010100000000000000000008400000000000001040"  # POINT(3 4)
    update_where(
        t, {"key": "key + 100"}, f"hex(st_asbinary(g)) = '{p34}'", mode="merge-on-read"
    )
    assert sorted(r.key for r in t.scan().collect()) == [2, 3, 110, 111]
    delete_where(t, f"hex(st_asbinary(g)) = '{p12}'", mode="merge-on-read")
    rows = t.scan().selectExpr("key", "hex(st_asbinary(g)) AS g").collect()
    assert sorted((r.key, r.g) for r in rows) == [(110, p34), (111, p34)]
