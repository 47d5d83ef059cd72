import os

import pytest

from jassv2_spark.session import get_spark

# The suite's inputs are small (perfbench serves 5,000 documents from a 2g
# driver). The library's 16g default lets the JVM heap grow past the RAM of
# a small test host, where the kernel OOM-kills the JVM mid-suite and every
# later Spark test errors. An explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


# Spark's Python workers re-read pyspark.zip's directory before every task
# (spark_worker_site/sitecustomize.py): ~0.2 s of CPU per task, most of the
# suite's time on a 4-core host. The session's workers start with the fix.
WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark_worker_site")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="jassv2-spark-tests", cores=4, shuffle_partitions=4,
        extra_conf={"spark.executorEnv.PYTHONPATH": WORKER_SITE},
    )
    yield s
    s.stop()


def pytest_collection_modifyitems(items):
    """Run the tests that need no Spark session first, keeping the file
    order within each group. On a 4-core host the whole suite runs longer
    than the Tier-1 timeout (ROADMAP direction 5), so a timeout should cut
    only Spark tests, never the quick pure-Python ones."""
    items.sort(key=lambda item: "spark" in getattr(item, "fixturenames", ()))
