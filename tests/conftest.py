from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pqc.session import get_spark  # noqa: E402

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=8, app_name="pqc-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_query_pins():
    """Isolate tests from query-scoped caches: Spark's CacheManager
    substitutes any cached plan fragment into later plans, which would
    make plan-shape assertions order-dependent."""
    yield
    from pqc.registry import release_pins

    release_pins()
