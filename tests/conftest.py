import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unstructured_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="unstructured-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_terminal_summary(terminalreporter, config):
    """Say how many ``slow`` tests the run deselected (pytest.ini's
    default ``-m "not slow"``), so a green default run is not mistaken
    for the full suite."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} tests marked 'slow' were deselected "
            f'(-m "{config.getoption("markexpr")}"); '
            'include them with -m "slow or not slow".',
            yellow=True,
        )
