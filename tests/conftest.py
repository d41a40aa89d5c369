import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mortar_parquet_support_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("mortar-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def plan_str(df) -> str:
    """Executed physical plan as a string (one place for the private-API
    incantation, shared by all plan-assertion tests)."""
    return df._jdf.queryExecution().executedPlan().toString()


def jobs_during(spark, action) -> int:
    """Spark jobs ``action`` submits, counted through a job group (a count
    of the status store's job list saturates at its retention limit)."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget probe")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def session_checkpoint_dir(spark, path):
    """Put the session on the reliable checkpoint tier under ``path`` for
    the block, then restore the previous session dir, clearing it when
    there was none. (Spark's setter appends a fresh UUID subdirectory, so
    a restored dir is a new subdirectory of the previous one.)"""
    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        sc.setCheckpointDir(old)


def scan_meta(plan: str, key: str) -> str | None:
    """Content of a FileScan metadata section (e.g. 'PartitionFilters',
    'PushedFilters'). Spark truncates long lists with '...' and NO closing
    bracket, so bounding on the next 'Key:' marker (not ']') is the only
    reliable parse."""
    import re

    m = re.search(rf"{key}: \[(.*?)(?=, [A-Z][A-Za-z]+: |\n|$)", plan)
    return m.group(1) if m else None


def make_stream_csv(dirpath, uuid, label, rows):
    """FIXTURES.md F1: single-stream CSV whose filename is the uuid."""
    path = os.path.join(dirpath, f"{uuid}.csv")
    with open(path, "w") as fh:
        fh.write(f"datetime,{label}\n")
        for ts, value in rows:
            fh.write(f"{ts},{value}\n")
    return path
