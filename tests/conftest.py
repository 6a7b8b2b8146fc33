"""Shared pytest fixtures: one SparkSession per test run.

Sized small (local[4]) for fast tests; the driver/bench use more cores.
``SPARK_GRAFT_TEST_SF`` switches the parity scale factor (default sf0.001
for speed; run with sf0.01 before committing — that's the driver's gate).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dodo_spark.session import get_spark

    spark = get_spark("dodo_spark_tests", cpus=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture
def s3_shim():
    """Conditional-PUT object-store shim over the local tree (fake_s3):
    request via request.getfixturevalue("s3_shim") in backend-param
    tests, or directly, to drive the lakehouse layer through _S3FS."""
    from tests.fake_s3 import s3_override

    with s3_override() as client:
        yield client


class _CountingFS:
    """Pass-through FS shim proxy recording per-op call counts, in total
    (``counts[op]``) and per path (``calls[(op, path)]``)."""

    def __init__(self, inner):
        from collections import Counter

        self._inner = inner
        self.counts = Counter()
        self.calls = Counter()

    def reset(self):
        self.counts.clear()
        self.calls.clear()

    def __getattr__(self, name):
        fn = getattr(self._inner, name)
        if not callable(fn):
            return fn

        def wrapped(*a, **kw):
            self.counts[name] += 1
            if a:
                self.calls[(name, a[0])] += 1
            return fn(*a, **kw)

        return wrapped


@pytest.fixture()
def counting_fs():
    """Route every local table path's metadata IO through a
    ``_CountingFS`` over the POSIX shim."""
    from dodo_spark.sources import versioned as V
    from dodo_spark.sources.versioned import _LocalFS

    fs = _CountingFS(_LocalFS())
    prev = V._FS_OVERRIDE
    V._FS_OVERRIDE = lambda p: fs if "://" not in p else None
    try:
        yield fs
    finally:
        V._FS_OVERRIDE = prev
