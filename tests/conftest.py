import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from sparkcrawl.session import get_spark

    s = get_spark(cores=4, app="sparkcrawl-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def job_ids(spark):
    """Returns a function giving the ids of every Spark job the session has
    launched so far. It drains the listener bus first, so no finished job
    is still missing from the status tracker."""
    sc = spark.sparkContext

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    return ids
