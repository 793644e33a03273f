from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from crawlspark.session import get_spark

    s = get_spark("crawlspark-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _cache_scope():
    """Each test runs inside one cache_scope, so the caches an operator
    leaves for its consumer are released when the test ends. Module-
    and session-scoped fixtures are set up before it and keep theirs."""
    from crawlspark.session import cache_scope

    with cache_scope():
        yield
