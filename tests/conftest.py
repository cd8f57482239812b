import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_rust_custom_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    if items:
        stash = items[0].config.stash
        stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + sum(
            1 for it in items if it.get_closest_marker("slow")
        )


def pytest_terminal_summary(terminalreporter, config):
    """Make the default run's blind spot visible: the `slow` fuzz,
    differential and ladder tests pytest.ini excludes by default."""
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_sep(
            "-", f"{n} slow tests deselected; run them with: pytest -m slow"
        )
