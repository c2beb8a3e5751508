from __future__ import annotations

import os
import signal
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pke_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pke_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "timeout(seconds): fail the test when its body runs "
        "longer than `seconds` (SIGALRM; pytest-timeout is not required)")


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    """Enforce ``@pytest.mark.timeout(seconds)`` on the test body with
    ``signal.alarm``: the handler raises in the main thread, which also
    interrupts a blocking wait on a Spark job."""
    mark = item.get_closest_marker("timeout")
    if mark is None or not hasattr(signal, "SIGALRM"):
        yield
        return
    seconds = int(mark.args[0])

    def expire(signum, frame):
        pytest.fail(f"{item.nodeid} exceeded its {seconds} s timeout",
                    pytrace=False)

    previous = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)
