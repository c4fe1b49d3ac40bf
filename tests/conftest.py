import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def fresh_plan_memo():
    """Each test starts with no memoized registry build, so what it
    sees does not depend on the tests that ran before it."""
    clear_plan_memo()


SF_DIR = "/root/testdata/sf0.001"


def jobs_of(spark, group: str, fn):
    """(fn(), ids of the Spark jobs fn ran). The listener bus is drained
    first: the status tracker learns of a job from its queued start
    event, so reading it straight after ``fn`` can miss a job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
