import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "src"))

import pytest


@pytest.fixture(scope="session")
def spark():
    from weblog_pipeline.session import build_session

    s = build_session(app_name="weblog-tests", parallelism=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def set_checkpoint_dir(spark):
    """Set (a path) or unset (None) the session's checkpoint dir within one
    test; the prior setting is restored afterwards. SparkContext has no
    public unset, so this goes through the Scala field's setter."""
    sc = spark.sparkContext
    assign = getattr(sc._jsc.sc(), "checkpointDir_$eq")
    prior = sc._jsc.sc().checkpointDir()

    def set_dir(path):
        if path is None:
            assign(sc._jvm.scala.Option.empty())
        else:
            sc.setCheckpointDir(path)

    yield set_dir
    assign(prior)
