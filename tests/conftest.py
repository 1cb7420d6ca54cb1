from __future__ import annotations

import json
import os
import threading
import uuid
from contextlib import contextmanager

import pytest

from tweets_elastic_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
# The test data and the reference project's source snapshot are installed
# side by side under one data root, so the snapshot is found from it.
DATA_ROOT = os.path.dirname(os.path.dirname(SF_SMOKE))
REFERENCE_DIR = os.path.join(DATA_ROOT, "reference")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def reference_json():
    """Loads a JSON file of the reference snapshot by relative path; the
    calling test skips when the snapshot is not on this machine."""

    def load(rel: str):
        path = os.path.join(REFERENCE_DIR, rel)
        if not os.path.exists(path):
            pytest.skip(f"reference snapshot file {rel} is absent")
        with open(path) as f:
            return json.load(f)

    return load


@contextmanager
def _py4j_commands(spark):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]
    # other threads share the connection (Py4J's finalizer thread sends a
    # memory-delete command per collected JavaObject): count this one only
    owner = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == owner:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


@contextmanager
def _spark_jobs(spark):
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted block")
    n = [0]
    try:
        yield n
    finally:
        sc._jsc.clearJobGroup()
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n[0] = len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def py4j_commands(spark):
    """``with py4j_commands() as n:`` — ``n[0]`` is then the number of
    commands the block sent over the Py4J connection."""
    return lambda: _py4j_commands(spark)


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as n:`` — ``n[0]`` is then the number of Spark
    jobs the block launched, read from the status store by job group."""
    return lambda: _spark_jobs(spark)
