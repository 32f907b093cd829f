from __future__ import annotations

import pytest

from dice_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dice-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def optimized_plan():
    """The optimized logical plan of a DataFrame, as text."""
    return lambda df: df._jdf.queryExecution().optimizedPlan().toString()
