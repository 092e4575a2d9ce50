from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_FULL_TIER_FILE = os.path.join(os.path.dirname(__file__), "full_tier.txt")


def count_jobs(spark, group, fn):
    """`(fn(), number of Spark jobs it submitted)`, read from the status
    tracker under a job group of its own (`group` plus a unique suffix,
    so a repeated or parametrized call never counts another's jobs)."""
    group = f"{group}-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _full_tier_ids() -> set[str]:
    ids: set[str] = set()
    try:
        with open(_FULL_TIER_FILE) as fh:
            for line in fh:
                entry = line.split("#", 1)[0].strip()
                if entry:
                    # store without the tests/ prefix so node ids match
                    # regardless of the invocation directory
                    ids.add(entry.removeprefix("tests/"))
    except OSError:
        pass
    return ids


def pytest_collection_modifyitems(config, items):
    """Apply the `full` marker to the measured heavy tail listed in
    tests/full_tier.txt. Data-driven so the tier can be regenerated
    from a --durations=0 log without editing dozens of test files;
    pytest.ini's `-m "not full"` addopts deselect the tier from the
    default run."""
    tier = _full_tier_ids()
    if not tier:
        return
    for item in items:
        nodeid = item.nodeid
        if nodeid.startswith("tests/"):
            nodeid = nodeid.removeprefix("tests/")
        if nodeid in tier:
            item.add_marker(pytest.mark.full)


def pytest_terminal_summary(terminalreporter):
    n = sum(
        1
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("full")
    )
    if n:
        terminalreporter.write_line(
            f'{n} full-tier tests deselected; run -m "full or not full" '
            "to include them"
        )


@pytest.fixture(scope="session")
def spark():
    from onehouse_demos_spark import get_spark

    s = get_spark(app_name="onehouse-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_base():
    d = tempfile.mkdtemp(prefix="oh_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
