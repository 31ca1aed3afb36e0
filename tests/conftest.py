"""Shared fixtures: one SparkSession per test session."""

from __future__ import annotations

import pytest

from engine.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# Jobs and stages the session's status store keeps (Spark's default is
# 1,000 each). Tests read the stage names of the jobs they ran from the
# status tracker; past the limit Spark evicts the oldest stages, skipped
# ones first, so a whole-suite run lost stages of jobs it had just run.
RETAINED_JOBS_AND_STAGES = 100_000


@pytest.fixture(scope="session")
def spark():
    n = str(RETAINED_JOBS_AND_STAGES)
    s = get_spark("engine-tests", cores=4, shuffle_partitions=4,
                  extra_conf={"spark.ui.retainedJobs": n, "spark.ui.retainedStages": n})
    yield s


@pytest.fixture(scope="session")
def docs_small(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def docs_mid(spark):
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
