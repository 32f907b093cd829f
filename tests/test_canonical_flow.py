"""Golden canonical-flow test, ported from the reference TCK
(AbstractCanonicalFlowTest.kt:59-215 + CanonicalFlowFixtures.kt:44-135).

Alice works with Bob / Bob works with Carol / Carol works with Dana, pinned
confidences 0.95/0.95/0.2 — at the 0.85 default projection threshold exactly
two edges emit and the decay candidate is SKIPPED.
"""

from __future__ import annotations

import pytest

from dice_spark.pipeline import run_pipeline
from dice_spark.synth import CANONICAL_FLOW_CONF, canonical_flow_rows, make_transcripts


# One case, named after the extractor it runs (the mapInPandas seam).
@pytest.fixture(scope="module", params=["udf"])
def result(spark):
    transcripts = make_transcripts(spark, canonical_flow_rows())
    out = run_pipeline(transcripts, context_id="canonical", conf_overrides=CANONICAL_FLOW_CONF)
    cached = {k: v.cache() for k, v in out.items() if k != "delta"}
    yield cached
    for v in cached.values():
        v.unpersist()


def _name(entities, entity_id):
    return {r["entity_id"]: r["canonical_name"] for r in entities.collect()}[entity_id]


def test_exactly_two_edges_emitted(result):
    edges = result["edges"].collect()
    ents = {r["entity_id"]: r["canonical_name"] for r in result["entities"].collect()}
    triples = sorted((ents[e["source_id"]], e["edge_type"], ents[e["target_id"]]) for e in edges)
    assert triples == [("Alice", "WORKS_WITH", "Bob"), ("Bob", "WORKS_WITH", "Carol")]


def test_lineage_projected_and_skipped(result):
    recs = result["projection_records"].collect()
    by_lc = {}
    for r in recs:
        by_lc.setdefault(r["lifecycle"], []).append(r)
    assert len(by_lc.get("PROJECTED", [])) == 2
    skipped = by_lc.get("SKIPPED", [])
    assert len(skipped) == 1
    assert skipped[0]["reason"] == "PolicyRejected"


def test_four_entities_canonicalized(result):
    names = sorted(r["canonical_name"] for r in result["entities"].collect())
    assert names == ["Alice", "Bob", "Carol", "Dana"]


def test_edge_confidences(result):
    confs = sorted(r["confidence"] for r in result["edges"].collect())
    assert confs == [0.95, 0.95]


def test_propositions_active_level0(result):
    props = result["propositions"].collect()
    assert len(props) == 3
    assert all(p["status"] == "ACTIVE" and p["level"] == 0 for p in props)
    assert all(p["reinforce_count"] == 0 for p in props)


def test_only_the_udf_extractor_is_accepted(spark):
    transcripts = make_transcripts(spark, canonical_flow_rows())
    with pytest.raises(ValueError, match="use_udf_extractor"):
        run_pipeline(transcripts, use_udf_extractor=False)


def test_entity_pipeline_variant(spark):
    """EntityPipeline.kt:46 — entity-only run matches the full pipeline's
    entities exactly (same extraction + filter + canonicalization path)."""
    from dice_spark.pipeline import run_entity_pipeline

    transcripts = make_transcripts(spark, canonical_flow_rows())
    ent_only = run_entity_pipeline(transcripts, context_id="flow")
    full = run_pipeline(transcripts, context_id="flow")
    a = {(r.entity_id, r.canonical_name) for r in ent_only["entities"].collect()}
    b = {(r.entity_id, r.canonical_name) for r in full["entities"].collect()}
    assert a == b and len(a) > 0
    assert set(ent_only) == {"entities", "mention_mapping", "rejected_mentions"}


def test_decay_sweep_emits_exactly_one_status_event(result):
    """Stage 5/6 parity (AbstractCanonicalFlowTest.kt:178-198): an applied
    decay sweep transitions the low-utility candidate (conf 0.2) off ACTIVE
    and emits exactly ONE PropositionStatusChanged carrying the sweep reason;
    the two pinned-confidence survivors emit nothing."""
    from pyspark.sql import functions as F

    from dice_spark.operators.events import sweep_status_events
    from dice_spark.operators.sweep import decay_sweep

    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    props = result["propositions"]
    store = props.withColumn("content_revised", ts)
    for c in ("valid_from", "valid_to", "invalidated_at"):
        if c not in store.columns:
            store = store.withColumn(c, F.lit(None).cast("timestamp"))
    _, records = decay_sweep(store, ts, retire_below=0.5, run_id="canon-sweep")
    events = sweep_status_events(records).collect()
    assert len(events) == 1
    ev = events[0]
    assert ev["event_type"] == "PropositionStatusChanged"
    assert (ev["previous_status"], ev["new_status"]) == ("ACTIVE", "STALE")
    assert ev["reason"] == "eff_conf<0.5"
    assert ev["run_id"] == "canon-sweep"
    low = {r["prop_id"] for r in props.filter(F.col("confidence") < 0.5).collect()}
    assert ev["prop_id"] in low
