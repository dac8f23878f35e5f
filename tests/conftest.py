import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hhek2sqlite_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hhek2sqlite_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def persistent_rdd_ids(spark):
    """Callable returning the set of RDD ids the session holds persisted
    (caches and unreleased local checkpoints) — snapshot before and
    after a call to assert it leaves nothing behind."""
    jsc = spark.sparkContext._jsc.sc()

    def _ids() -> set[int]:
        it = jsc.getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    return _ids


def pytest_terminal_summary(terminalreporter):
    """Say how many golden checks did not run: the checkDB1 / GOTEST1
    tests skip when the reference fixture GOTEST1.MDB is absent, and a
    green run must not hide that."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and "GOTEST1" in str(rep.longrepr[2])
    )
    if n:
        terminalreporter.write_line(
            f"{n} golden test(s) skipped: GOTEST1.MDB reference fixture absent"
        )
