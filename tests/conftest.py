from __future__ import annotations

import json
import os

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
