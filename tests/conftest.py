from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_realtime_sessionize_sample_spark import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # The JVM's temp dir (codec libraries, temporary streaming checkpoints)
    # is the test session's own, so tests can diff it without seeing files
    # other processes write to the system temp dir.
    jvm_tmp = tmp_path_factory.mktemp("jvm-tmp")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp}"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
