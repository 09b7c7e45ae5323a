from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from bob_vector_db_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # local[8] + no Python-worker reuse: the 9-file suite runs dozens of
    # pandas UDFs through one long-lived session; reused workers eventually
    # hit a py4j socket error on this container (flaked once per ~10 runs).
    # A bounded driver heap: under the engine's 48g default the one
    # long-lived test JVM keeps growing its heap instead of collecting,
    # and on a 15 GB host the kernel OOM-killed it mid-suite at 15.8 GB
    # resident; every later test then failed with a refused connection.
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        cpus=8,
        extra_conf={
            "spark.python.worker.reuse": "false",
            "spark.driver.memory":
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
