from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_pipeline_mlops_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def restore_checkpoint_dir(spark):
    """Put the SparkContext's checkpoint dir back after the test.
    ``materialize`` sets the dir from ``SPARK_GRAFT_CHECKPOINT_DIR`` on
    the session-scoped context; left set, it would switch every later
    test's cuts to reliable checkpoints."""
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.checkpointDir()  # scala.Option[String]
    yield
    getattr(jsc, "checkpointDir_$eq")(prev)
