"""Oracle parity for the queries behind the driver-or-distributed gate
(dice_spark/operators/adaptive.py), on both sides of it.

Each case runs ``__spark_entry__.queries()[name]`` on Spark and
``oracle_sql()[name]`` on DuckDB over the sf0.001 testdata tables, then
compares column names, row count and the order-insensitive value digest of
tools/selfcheck.py. The distributed cases set the shared ceiling to 0, so
every CC / BFS / Datalog call inside the query runs its distributed loop.
On the driver side, a query whose result is built from driver rows must
plan it as a LocalRelation, never a LogicalRDD over pickled rows.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from dice_spark.operators import adaptive
from tools.selfcheck import TABLES, digest

GATED = [
    "prolog_inference",
    "graph_neighborhood",
    "path_between",
    "prop_dup_clusters",
    "doc_dup_clusters",
]
# The two CC queries join their driver labels into checkpointed relations
# (LogicalRDDs of their own); tests/test_canonicalize.py checks the labels.
DRIVER_RESULT = {"prolog_inference", "graph_neighborhood", "path_between"}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("name", GATED)
def test_gated_query_matches_oracle(
    spark, duck, sf_dir, monkeypatch, optimized_plan, name, path
):
    if path == "distributed":
        monkeypatch.setattr(adaptive, "DRIVER_MAX_ROWS", 0)
    sdf = entry.queries()[name](spark, sf_dir)
    if path == "driver" and name in DRIVER_RESULT:
        assert "LogicalRDD" not in optimized_plan(sdf)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entry.oracle_sql()[name])
    dcols = [c.lower() for c in res.columns]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    (sh, sl), (dh, dl) = digest(srows, scols), digest(drows, dcols)
    diff = [(a, b) for a, b in zip(sl, dl) if a != b][:5]
    assert sh == dh, f"{name} ({path}): first differing rows spark/duck: {diff}"
