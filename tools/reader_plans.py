"""Print the optimized logical plans of the engine's data-file reads on an
un-evolved merge-on-read table, one labelled block per read, with Catalyst
expression ids (``#123``) stripped so two checkouts can be diffed:

    PYTHONPATH=<checkout-a> python tools/reader_plans.py > a.txt
    PYTHONPATH=<checkout-b> python tools/reader_plans.py > b.txt
    diff a.txt b.txt

Reads covered: ``scan_to_dataframe`` after a MoR delete (touched and
clean halves of the file-group split) plain and with ``row_lineage=True``;
the hit frames of MoR ``delete_where`` / ``update_where`` /
``merge_upsert`` (captured at the position-delete writer); and
``Table.changes`` with and without lineage over a range holding position
deletes, from the first commit and from after an earlier delete."""

from __future__ import annotations

import re
import sys
import tempfile


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", text).rstrip()


def main() -> None:
    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.metadata.schema import NestedField, Schema
    from iceberg_rust_custom_spark.session import get_spark
    from iceberg_rust_custom_spark.table import maintenance as M

    spark = get_spark("reader_plans", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    schema = Schema(
        0,
        (
            NestedField(1, "id", "long", True),
            NestedField(2, "k", "int", True),
            NestedField(3, "v", "int", True),
        ),
    )
    blocks: list[tuple[str, str]] = []
    captured: list = []
    write_pos = M._write_position_deletes

    def capture(table, hits):
        captured.append(_plan(hits))
        return write_pos(table, hits)

    M._write_position_deletes = capture
    with tempfile.TemporaryDirectory() as wh:
        eng = Engine(spark, warehouse=wh)
        t = eng.create_table("p.t", schema)
        for lo in (0, 100, 200):
            rows = [(i, i % 4, i * 10) for i in range(lo, lo + 20)]
            t.append(spark.createDataFrame(rows, schema.spark_schema()))
        seq_appends = t.metadata.last_sequence_number
        t = M.delete_where(t, "id < 3", mode="merge-on-read")
        blocks.append(("mor_delete_hits", captured.pop()))
        seq_first_delete = t.metadata.last_sequence_number
        blocks.append(("scan", _plan(t.scan())))
        blocks.append(("scan_row_lineage", _plan(t.scan(row_lineage=True))))
        t = M.update_where(t, {"v": "v + 1"}, "id = 105", mode="merge-on-read")
        blocks.append(("mor_update_hits", captured.pop()))
        src = spark.createDataFrame([(205, 1, 7), (900, 1, 7)], schema.spark_schema())
        t = M.merge_upsert(t, src, ["id"], mode="merge-on-read")
        blocks.append(("mor_merge_hits", captured.pop()))
        t = M.delete_where(t, "id = 210", mode="merge-on-read")
        captured.clear()
        for lo, label in ((seq_appends, "from_appends"), (seq_first_delete, "after_delete")):
            for lineage in (False, True):
                df = t.changes(lo, with_lineage=lineage)
                blocks.append((f"changes_{label}_lineage_{lineage}", _plan(df)))
    M._write_position_deletes = write_pos
    for label, text in blocks:
        sys.stdout.write(f"== {label}\n{text}\n\n")


if __name__ == "__main__":
    main()
