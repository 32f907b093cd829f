"""Driver-BFS fast path must match the distributed frontier loop exactly."""

from __future__ import annotations

import pytest

from dice_spark.operators import adaptive
from dice_spark.operators.graphquery import neighborhood, path_between


@pytest.fixture()
def edges(spark):
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
        ("a", "f"), ("f", "d"), ("g", "h"),  # shortcut + disconnected pair
        ("b", "f"), ("e", "i"), ("i", "j"),
    ]
    return spark.createDataFrame(pairs, "source_id string, target_id string")


def _force(monkeypatch, value):
    monkeypatch.setattr(adaptive, "DRIVER_MAX_ROWS", value)


def test_neighborhood_paths_agree(spark, edges, monkeypatch):
    for start in ("a", "zz"):  # "zz" is not in the graph
        _force(monkeypatch, 10_000)
        drv = sorted(map(tuple, neighborhood(edges, start, max_depth=3).collect()))
        _force(monkeypatch, 0)
        dist = sorted(map(tuple, neighborhood(edges, start, max_depth=3).collect()))
        assert drv == dist
        assert bool(drv) == (start == "a")


def test_path_between_paths_agree(spark, edges, monkeypatch):
    # ("a", "zz"): unknown target; ("zz", ...): start absent from the graph
    for frm, to in [
        ("a", "e"), ("a", "j"), ("a", "g"), ("a", "a"), ("a", "zz"), ("zz", "a"), ("zz", "zz"),
    ]:
        _force(monkeypatch, 10_000)
        drv = path_between(edges, frm, to, max_depth=5)
        _force(monkeypatch, 0)
        dist = path_between(edges, frm, to, max_depth=5)
        assert drv == dist, (frm, to, drv, dist)


def test_path_between_depth_limit_agrees(spark, edges, monkeypatch):
    _force(monkeypatch, 10_000)
    drv = path_between(edges, "a", "j", max_depth=2)
    _force(monkeypatch, 0)
    dist = path_between(edges, "a", "j", max_depth=2)
    assert drv == dist == None  # noqa: E711 - unreachable within depth
