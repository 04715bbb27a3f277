from __future__ import annotations

import gc
import os

import pytest


def _driver_heap() -> str:
    """The test JVM's heap, sized from this machine's memory: half of
    what is left after 3 GB of headroom (the JVM's off-heap, the Python
    workers and pytest take the other half), between 2 and 16 GB."""
    total_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                >> 20)
    return f"{min(16384, max(2048, (total_mb - 3072) // 2))}m"


@pytest.fixture(scope="session")
def spark():
    from vite_spark.session import get_spark

    s = get_spark(
        app_name="vite_spark_tests",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _driver_heap()},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_spark_state(request):
    """Cached/persisted DataFrames and py4j-held broadcasts accumulate on
    the shared driver heap across the suite — drop them between tests."""
    yield
    if "spark" in request.fixturenames:
        s = request.getfixturevalue("spark")
        try:
            s.catalog.clearCache()
        except Exception:
            pass
        gc.collect()
