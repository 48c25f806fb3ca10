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
    for the full suite. Silent when the mark expression admits ``slow``
    tests: then only ``-k`` or the like deselected them."""
    markexpr = config.getoption("markexpr")
    if not markexpr:
        return
    try:  # pytest-private: without it, print no summary rather than fail
        from _pytest.mark.expression import Expression
    except ImportError:
        return
    if Expression.compile(markexpr).evaluate(
        lambda name, **kwargs: name == "slow"
    ):
        return
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} tests marked 'slow' were deselected "
            f'(-m "{markexpr}"); '
            'include them with -m "slow or not slow".',
            yellow=True,
        )
