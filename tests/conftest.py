from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pytest_configure(config):
    """Session-scoped evidence-lock acquisition (r11 verdict item 3).

    The r10 incident that motivated the lock was a sweep corrupted
    "under parallel pytest", yet pytest itself stayed unlocked — a
    bench/sweep/audit run could still race a concurrent test session
    over the shared spark-warehouse and scratch dirs. Acquiring here
    makes the contention fail fast in BOTH orders: a locked tool refuses
    while pytest runs, and pytest exits 3 (naming the holder) while a
    tool runs. ``SPARK_GRAFT_NO_LOCK=1`` bypasses, same as the tools."""
    if os.environ.get("SPARK_GRAFT_NO_LOCK") == "1":
        return
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    from tools.evidence_lock import evidence_lock

    cm = evidence_lock("pytest")
    cm.__enter__()  # sys.exit(3) on contention — fail fast, never race
    config._evidence_lock_cm = cm


def pytest_unconfigure(config):
    cm = getattr(config, "_evidence_lock_cm", None)
    if cm is not None:
        config._evidence_lock_cm = None
        cm.__exit__(None, None, None)


@contextmanager
def jobs_started(spark):
    """Count the Spark jobs the block starts (on this thread): yields a
    callable returning the count so far."""
    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count probe")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def part_files(path: str) -> set[str]:
    """Relative paths of every parquet part file under ``path`` (key
    directories included). Spark writers mint fresh part-file names, so
    a build or refresh replaces this set and a metadata-only reuse
    leaves it identical."""
    return {
        os.path.relpath(os.path.join(root, f), path)
        for root, _, files in os.walk(path)
        for f in files
        if f.startswith("part-")
    }


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from linqonsteroids_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
