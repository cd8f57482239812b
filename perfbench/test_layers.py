"""Tests of the benchmark's tracing.

    python3 -m pytest perfbench/test_layers.py -q

The first tests need no Spark session. ``test_traced_run_fires_every_layer``
runs each workload once with ``--trace 1`` (about two minutes on 4 cores)
and asserts that every per-layer counter of the layers the workload uses
reads above zero, so a wrapper that misses a by-name import cannot go
unnoticed as a silent zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402


class _StubContext:
    """Enough of a SparkContext for installing wrappers without a session."""

    def statusTracker(self):
        return None


class _StubSession:
    sparkContext = _StubContext()


def _engine_bindings(obj) -> list[str]:
    return [
        f"{mod.__name__}.{attr}"
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith(layers.PACKAGE)
        for attr, val in vars(mod).items()
        if val is obj
    ]


def test_per_layer_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["per_layer"] == [
        {"name": name, "unit": layers.unit(name), "better": better} for name, better in layers.PER_LAYER
    ]
    assert {w["name"] for w in bench["workloads"]} == set(layers.LAYERS_USED)


def test_wrap_function_rebinds_every_by_name_import():
    from iceberg_rust_custom_spark import engine
    from iceberg_rust_custom_spark.table import maintenance, table, write

    original = write.write_partitioned
    tracer = layers.Tracer(_StubSession())
    layers._import_package()
    n = tracer.wrap_function(write.__name__, "write_partitioned", lambda fn: lambda *a, **k: fn(*a, **k))
    try:
        assert n >= 4  # defined in write, imported by name into table, engine, maintenance
        for mod in (write, table, engine, maintenance):
            assert mod.write_partitioned is not original
        assert _engine_bindings(original) == []
    finally:
        tracer.uninstall()
    for mod in (write, table, engine, maintenance):
        assert mod.write_partitioned is original


def test_install_leaves_no_unwrapped_binding():
    from iceberg_rust_custom_spark.metadata import manifest
    from iceberg_rust_custom_spark.operators import util
    from iceberg_rust_custom_spark.table import maintenance, scan, write

    originals = [
        scan.plan_files,
        scan.scan_to_dataframe,
        manifest.read_manifest,
        manifest.read_manifest_list,
        write.write_partitioned,
        maintenance.delete_where,
        maintenance.update_where,
        maintenance.merge_upsert,
        util.materialize_if_small,
    ]
    tracer = layers.Tracer(_StubSession()).install()
    try:
        for fn in originals:
            assert _engine_bindings(fn) == [], fn.__name__
    finally:
        tracer.uninstall()
    assert scan.plan_files is originals[0] and util.materialize_if_small is originals[-1]


@pytest.mark.parametrize("workload", sorted(layers.LAYERS_USED))
def test_traced_run_fires_every_layer(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == {name for name, _ in layers.PER_LAYER}
    for name in layers.LAYERS_USED[workload]:
        assert metrics[name]["value"] > 0, name
