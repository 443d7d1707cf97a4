"""Shared pytest fixtures: one local SparkSession for the whole run
(JVM startup is ~15 s; per-test sessions would dominate runtime), a
private artifact-store root per test, and a counter of the Spark jobs
a call submits."""

from __future__ import annotations

import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hearthstats_spark.session import get_spark

    s = get_spark("hearthstats-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry():
    from hearthstats_spark.queries.registry import LOAD_FAILURES, load_all

    reg = load_all()
    assert not LOAD_FAILURES, f"query modules failed to load: {LOAD_FAILURES}"
    return reg


@pytest.fixture
def cache_dir(tmp_path, monkeypatch):
    """A private, initially absent artifact-store root with the store
    enabled (``operators/ann_index``)."""
    d = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE_DIR", d)
    monkeypatch.delenv("SPARK_GRAFT_ANN_CACHE", raising=False)
    return d


def jobs_of(spark, fn) -> list:
    """Run ``fn`` under a fresh job group; return the group's jobs as
    (job id, max tasks of one stage). The status tracker is fed by the
    asynchronous, in-order listener bus, so a marker job submitted
    afterwards is awaited first: once it is visible, so is every job
    ``fn`` submitted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, body):
        sc.setJobGroup(group, group)
        try:
            return body()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    group = f"test-jobs-{uuid.uuid4().hex[:8]}"
    in_group(group, fn)
    in_group(f"{group}-marker", lambda: sc.parallelize([0], 1).count())
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.time() < deadline, "marker job never became visible"
        time.sleep(0.05)
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        out.append((jid, max(s.numTasks for s in stages if s is not None)))
    return out
