"""Zipf-head skew resilience (SURVEY §7 hard-part 1): one surface form in
>=35% of mentions — the reference pins first-person mentions to the user
entity (schema_hints.jinja), so real transcript corpora always carry this
head. Evidence is per-task: tools/skewbench.py reads executorRunTime
quantiles from the Spark REST API, so a straggler task doing 35% of the work
cannot hide behind a healthy wall-clock."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_skewed_resolution_bounded_task_ratio():
    """The resolution join on a 35%-hot mention mix completes with bounded
    per-task time imbalance (max/median executorRunTime across the heaviest
    stages) under the engine's defenses: occurrence dedupe with map-side
    partial aggregation, salted registry joins
    (linking.resolve_against_entities, salt=8), AQE broadcast of the
    vocabulary-sized resolved relation on the fan-out join, and AQE skew-join
    as backstop. Run in a subprocess so the REST API (spark.ui) is on."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "skewbench.py"),
         "--rows", "1500000"],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["mode"] == "defended"
    # every occurrence resolved, including all 35% head occurrences
    assert result["resolved_rows"] == result["rows"]
    assert result["head_rows_resolved"] == int(result["rows"] * 0.35)
    # bounded task-time imbalance across the heaviest stages (the undefended
    # contrast run shows ~6x on the fan-out reducer; see BASELINE.md round 5)
    assert result["worst_ratio"] is not None
    assert result["worst_ratio"] <= 3.0, result["heaviest_stages"]


def test_skewed_pipeline_end_to_end(spark):
    """The full pipeline runs unchanged on the skewed mix: the head form
    becomes ONE entity holding ~35% of mentions, tail entities are intact,
    and projection still emits edges for head-subject propositions."""
    from dice_spark.pipeline import run_pipeline
    from dice_spark.synth import skewed_transcripts_from_events

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tr = skewed_transcripts_from_events(events).localCheckpoint(eager=True)
    out = run_pipeline(tr, context_id="skew")
    ents = out["entities"].cache()
    head = ents.filter(F.col("canonical_name") == "Primary User").collect()
    assert len(head) == 1
    total_mentions = ents.agg(F.sum("n_mentions")).collect()[0][0]
    # subject mentions are 35% of turns, each turn contributes subject+object
    # mentions, so the head holds roughly 17.5% of ALL mentions — assert the
    # head dominates without pinning the exact arithmetic
    assert head[0]["n_mentions"] / total_mentions > 0.12
    assert ents.count() > 30  # tail entities survive alongside the head
    # head-subject propositions still project edges
    head_edges = out["edges"].join(
        ents.filter(F.col("canonical_name") == "Primary User").select(
            F.col("entity_id").alias("source_id")
        ),
        "source_id",
        "left_semi",
    )
    assert head_edges.count() > 0
