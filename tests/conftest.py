from __future__ import annotations

from pathlib import Path

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


@pytest.fixture(scope="session")
def sf_dir():
    """The sf0.001 set of the ``testdata`` directory beside the checkout (or
    beside any of its ancestors)."""
    for parent in Path(__file__).resolve().parents:
        candidate = parent / "testdata" / "sf0.001"
        if candidate.is_dir():
            return str(candidate)
    raise FileNotFoundError("no testdata/sf0.001 beside the checkout")
