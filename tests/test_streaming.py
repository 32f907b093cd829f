"""Structured Streaming entry (streaming/stream.py): readStream -> foreachBatch
-> incremental KG warehouse, with bookmark advance + ledger dedup across runs."""

from __future__ import annotations

import pytest

from dice_spark.streaming.stream import TURN_SCHEMA, StreamingPipeline


def _write_turns(spark, path, rows):
    df = spark.createDataFrame(rows, TURN_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _turns(conv, start, n):
    rows = []
    names = ["Alice Nguyen", "Bob Marley", "Carol Danvers"]
    for i in range(start, start + n):
        who = names[i % 3]
        other = names[(i + 1) % 3]
        rows.append((conv, i, "user", f"{who} collaborates with {other}."))
    return rows


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "in"), str(tmp_path / "ckpt"), str(tmp_path / "wh")


def test_stream_two_batches_bookmarks_and_ledger(spark, dirs):
    inp, ckpt, wh_root = dirs
    sp = StreamingPipeline(spark, wh_root, context_id="s")

    # Batch 1: 6 turns (trigger=4 -> window [0, 6) assembles).
    _write_turns(spark, inp, _turns("conv-a", 0, 6))
    sp.start(inp, ckpt).awaitTermination()
    assert sp.wh.exists("edges") and sp.wh.read("edges").count() > 0
    bm1 = {r.conv_id: r.end_index for r in sp.wh.read("bookmarks").collect()}
    assert bm1 == {"conv-a": 6}
    n_edges_1 = sp.wh.read("edges").count()
    n_ledger_1 = sp.wh.read("ledger").count()

    # Batch 2: 6 more turns -> trigger fires again from bookmark 6 (window
    # starts at 6 - overlap).
    _write_turns(spark, inp, _turns("conv-a", 6, 6))
    sp.start(inp, ckpt).awaitTermination()
    bm2 = {r.conv_id: max(r.end_index for r in g) for g in [sp.wh.read("bookmarks").collect()] for r in g}
    assert bm2["conv-a"] == 12
    assert sp.wh.read("ledger").count() > n_ledger_1
    assert sp.wh.read("edges").count() >= n_edges_1

    # Replay the same input against a FRESH checkpoint: ledger + MERGE keys
    # make it a no-op on edges (idempotent re-delivery).
    n_edges_2 = sp.wh.read("edges").count()
    n_props_2 = sp.wh.read("propositions").count()
    sp.start(inp, ckpt + "2").awaitTermination()
    assert sp.wh.read("edges").count() == n_edges_2
    assert sp.wh.read("propositions").count() == n_props_2


def test_stream_emits_domain_events(spark, dirs):
    """Every micro-batch appends domain events: one PropositionDiscovered per
    previously-unseen proposition (EventEmittingPropositionRepository.kt:
    81-126) plus one ExtractionBatchCompleted with the tallies; replaying the
    same input produces NO new Discovered events and no duplicate batch rows
    (event_id MERGE)."""
    inp, ckpt, wh_root = dirs
    sp = StreamingPipeline(spark, wh_root, context_id="ev")
    _write_turns(spark, inp, _turns("conv-e", 0, 6))
    sp.start(inp, ckpt).awaitTermination()

    events = sp.wh.read("events").collect()
    discovered = [e for e in events if e.event_type == "PropositionDiscovered"]
    batch_done = [e for e in events if e.event_type == "ExtractionBatchCompleted"]
    n_props = sp.wh.read("propositions").count()
    assert len(discovered) == n_props > 0
    assert {e.prop_id for e in discovered} == {
        r.prop_id for r in sp.wh.read("propositions").collect()
    }
    assert len(batch_done) == 1
    payload = dict(kv.split("=") for kv in batch_done[0].payload.split(","))
    assert int(payload["n_propositions"]) == n_props

    # Replay with a fresh checkpoint: same batch id, same prop ids — the
    # event_id merge keeps the events table byte-identical.
    before = sorted(e.event_id for e in sp.wh.read("events").collect())
    sp.start(inp, ckpt + "2").awaitTermination()
    after = sorted(e.event_id for e in sp.wh.read("events").collect())
    assert after == before


def test_stream_below_trigger_is_noop(spark, dirs):
    inp, ckpt, wh_root = dirs
    sp = StreamingPipeline(spark, wh_root, context_id="s2")
    _write_turns(spark, inp, _turns("conv-b", 0, 3))  # below trigger=4
    sp.start(inp, ckpt).awaitTermination()
    assert sp.wh.exists("turns")
    assert not sp.wh.exists("edges")


def test_stream_drains_multi_window_burst(spark, dirs):
    """A micro-batch delivering a 42-turn burst must ladder through ALL its
    windows (the reference's caller pulls analyze() until quiescent,
    AbstractIncrementalAnalyzer.kt:75-108), not just the first: bookmark
    reaches the conversation end and the ledger holds one entry per window
    of the stride tiling ([0,20), [18,38), [36,42))."""
    inp, ckpt, wh_root = dirs
    sp = StreamingPipeline(spark, wh_root, context_id="burst")
    _write_turns(spark, inp, _turns("conv-c", 0, 42))
    sp.start(inp, ckpt).awaitTermination()
    bm = max(r.end_index for r in sp.wh.read("bookmarks").collect())
    assert bm == 42
    ledger = {
        (r.conv_id,) for r in sp.wh.read("ledger").collect()
    }
    assert sp.wh.read("ledger").count() == 3  # three windows drained


def test_stream_batch_value_parity(spark, dirs, tmp_path):
    """Single-path guarantee (AbstractIncrementalAnalyzer.kt:109-162): the
    same transcripts run through (a) the batch engine and (b) the streaming
    foreachBatch sink as three conv-partitioned micro-batches in drain mode
    (trigger=1) yield VALUE-IDENTICAL propositions, entities and edges — the
    incremental ladder (start = last_end - overlap) reproduces
    assemble_windows' stride tiling, content-derived ids line up, and the
    MERGE keys dedupe cross-batch replays."""
    from pyspark.sql import functions as F

    from dice_spark.pipeline import run_pipeline
    from dice_spark.synth import transcripts_from_events

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tr = (
        transcripts_from_events(events)
        .select("conv_id", "turn_idx", "role", "text")
        .localCheckpoint(eager=True)
    )
    batch = run_pipeline(tr, context_id="par", use_udf_extractor=True)

    sp = StreamingPipeline(spark, str(tmp_path / "wh_par"), context_id="par", trigger=1)
    for i in (0, 1, 2):
        sp.process_batch(
            tr.filter(F.crc32("conv_id") % 3 == i).localCheckpoint(eager=True), i
        )

    def vals(df, cols):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        }

    pcols = ["prop_id", "text", "predicate", "confidence", "decay"]
    ecols = ["entity_id", "canonical_name", "entity_type"]
    gcols = [
        "edge_ref", "source_id", "target_id", "edge_type", "confidence",
        "n_source_props", "description", "source_prop_ids",
    ]
    assert vals(batch["propositions"], pcols) == vals(sp.wh.read("propositions"), pcols)
    assert vals(batch["entities"], ecols) == vals(sp.wh.read("entities"), ecols)
    assert vals(batch["edges"], gcols) == vals(sp.wh.read("edges"), gcols)
