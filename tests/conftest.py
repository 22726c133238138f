"""Shared Spark fixture.

Mirrors the reference test harness shape (local-mode session, fixed shuffle
partitions — /root/reference/tests/unit/conftest.py:85-96) but with Arrow
enabled and multi-core local master so vectorized UDF paths are exercised.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    session = (
        SparkSession.builder.master("local[4]")
        .appName("discoverx-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _tagged_jobs(spark, fn):
    """(ids of the Spark jobs ``fn()`` started, its result)."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    tag = f"budget-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jvm_sc.listenerBus().waitUntilEmpty()
    return list(jvm_sc.statusTracker().getJobIdsForTag(tag)), out


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (number of Spark jobs ``fn()`` started, its
    result)."""

    def count(fn):
        ids, out = _tagged_jobs(spark, fn)
        return len(ids), out

    return count


@pytest.fixture
def stage_tasks(spark):
    """``stage_tasks(fn)`` -> (number of Spark jobs ``fn()`` started, the
    task count of each of their stages, its result)."""
    tracker = spark.sparkContext.statusTracker()

    def count(fn):
        ids, out = _tagged_jobs(spark, fn)
        stages = [s for j in ids for s in tracker.getJobInfo(j).stageIds]
        return len(ids), [tracker.getStageInfo(s).numTasks
                          for s in stages], out

    return count


@pytest.fixture
def py4j_calls(monkeypatch):
    """``py4j_calls(fn)`` -> (number of Py4J round trips ``fn()`` made,
    its result).  Py4J's object-release commands are not counted: they
    go out when Python collects a proxy, which may have been made before
    ``fn`` ran, so their number varies from run to run (52 to 202 in
    one runner partition) where every other command repeats exactly."""
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def count(fn):
        before = sent[0]
        out = fn()
        return sent[0] - before, out

    return count
