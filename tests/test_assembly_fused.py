"""windowed_turns must be value-identical to split_turns(assemble_windows(t))
for the engine's canonical transcript contract (dense 0-based turn indexes,
single-line turn text), and must fail on turn indexes that break it."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from dice_spark.operators.assembly import (
    assemble_windows,
    split_turns,
    windowed_turns,
)
from dice_spark.pipeline import run_pipeline
from dice_spark.synth import canonical_flow_rows, make_transcripts, transcripts_from_events


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_parity(transcripts, **kw):
    fused = windowed_turns(transcripts, **kw)
    composed = split_turns(assemble_windows(transcripts, **kw))
    assert fused.columns == composed.columns
    assert _rows(fused) == _rows(composed)


def test_fused_matches_composition_on_driver_events(spark):
    tr = transcripts_from_events(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    _assert_parity(tr)


def test_fused_matches_composition_on_golden_fixture(spark):
    _assert_parity(make_transcripts(spark, canonical_flow_rows()))


@pytest.mark.parametrize("n_turns", [1, 2, 18, 19, 20, 21, 37, 38, 39, 40, 55])
def test_fused_matches_composition_at_window_boundaries(spark, n_turns):
    # every boundary shape: sliver windows, exact-stride ends, overlap tails
    rows = [
        ("conv-b", i, "user" if i % 2 == 0 else "assistant", f"turn {i} text.", None, None)
        for i in range(n_turns)
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    _assert_parity(tr)


def test_fused_matches_composition_small_windows(spark):
    rows = [
        (f"conv-{c}", i, "user", f"c{c} t{i}.", None, None)
        for c in range(3)
        for i in range(7 + c * 5)
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    _assert_parity(tr, window_size=5, overlap=2)


def test_fused_text_with_colon_round_trips(spark):
    rows = [("conv-c", i, "user", f"note: value {i}: ok.", None, None) for i in range(25)]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    _assert_parity(tr)


def _turns(spark, indexes):
    rows = [("c", i, "user", f"Ann{i} works with Bob{i}.", None, None) for i in indexes]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


# A gap inside the first window, an index the sliver filter would drop, and a
# negative index: each breaks the dense 0-based contract.
@pytest.mark.parametrize("indexes", [[0, 1, 3], [0, 1, 50], [-1, 0, 1]])
def test_sparse_turn_idx_fails_loudly(spark, indexes):
    with pytest.raises(SparkRuntimeException, match="turn_idx is not dense 0-based in conv_id c"):
        windowed_turns(_turns(spark, indexes)).collect()


def test_sparse_turn_idx_fails_the_pipeline(spark):
    # Unchecked, every proposition would be grounded in chunk c:0:3, which
    # assemble_windows never emits (it names the window c:0:4).
    with pytest.raises(SparkRuntimeException, match="turn_idx is not dense"):
        run_pipeline(_turns(spark, [0, 1, 3]), context_id="sparse")["propositions"].collect()
