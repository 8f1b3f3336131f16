from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

# Dummy AWS credentials for the moto-backed S3/Glue tests. Set BEFORE
# the session-scoped Spark fixture launches the JVM so Python workers
# (which inherit the JVM's environment) can sign requests against the
# local moto endpoint — the same standard-chain resolution a real
# deployment uses. Harmless everywhere else: no test talks to AWS.
for _k, _v in {
    "AWS_ACCESS_KEY_ID": "graft-test-key",
    "AWS_SECRET_ACCESS_KEY": "graft-test-secret",
    "AWS_DEFAULT_REGION": "us-east-1",
}.items():
    os.environ.setdefault(_k, _v)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
