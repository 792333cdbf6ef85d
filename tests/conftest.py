import pytest


@pytest.fixture(scope="session")
def spark():
    from ddsketch_spark.plans.session import get_spark

    s = get_spark("ddsketch-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group)``: how many Spark jobs job group ``group``
    has submitted, once the listener bus has delivered every event."""
    sc = spark.sparkContext

    def count(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
