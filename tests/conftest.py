from __future__ import annotations

import pytest

from data_engineering_assessment_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

# An abstract committer class: a Parquet write configured with it fails
# inside its job, after a static overwrite would already have deleted
# the target.
FAILING_COMMITTER = (
    "spark.sql.parquet.output.committer.class",
    "org.apache.hadoop.mapreduce.OutputCommitter",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dea-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
