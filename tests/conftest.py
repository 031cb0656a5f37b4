import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers (and test subprocesses) import the package too, e.g. to
# unpickle the jsonb pandas UDFs, whatever directory pytest started in;
# the JVM passes its environment's PYTHONPATH on to the workers it starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from youcruit_tap_rawpostgresql_spark.session import get_session

    spark = get_session(app_name="tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(fn)``: the number of Spark jobs ``fn()`` starts on this
    thread. A marker job under a second job group follows ``fn``; listener
    events arrive in order, so once the tracker lists the marker it lists
    every job ``fn`` started."""
    import time
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        group, marker = (f"{k}-{uuid.uuid4().hex}" for k in ("counted", "marker"))
        try:
            sc.setJobGroup(group, "counted")
            fn()
            sc.setJobGroup(marker, "marker")
            spark.range(1).collect()
        finally:
            sc._jsc.clearJobGroup()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "the marker job never showed"
            time.sleep(0.05)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
