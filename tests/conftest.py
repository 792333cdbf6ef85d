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


# any Python stage or UDF node in a formatted plan
PYTHON_NODE = r"Python|Pandas|MapIn"


@pytest.fixture
def fetch_plans(monkeypatch):
    """The formatted plans of the frames ``operators.aggregate.fold_stored``
    fetches to the driver, in call order."""
    from ddsketch_spark.operators import aggregate

    plans = []
    fetch = aggregate.bounded_arrow

    def recording(df, max_rows):
        plans.append(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
        return fetch(df, max_rows)

    monkeypatch.setattr(aggregate, "bounded_arrow", recording)
    return plans


@pytest.fixture
def executor_merge(monkeypatch):
    """Sends every ``fold_stored`` call to its executor plan: a bound of
    0 rows is exceeded by any non-empty input."""
    from ddsketch_spark.operators import aggregate

    monkeypatch.setattr(aggregate, "DRIVER_FOLD_MAX_ROWS", 0)
