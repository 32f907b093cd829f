"""spark-submit entry point: transcripts table -> KG warehouse, resumable.

The north-star deployment shape is ``spark-submit --py-files dice_spark.zip``
on a multi-executor cluster (the reference's PropositionPipeline service loop,
re-expressed as one idempotent batch job):

    zip -r dice_spark.zip dice_spark
    spark-submit --py-files dice_spark.zip tools/submit_job.py \
        --input  /data/transcripts \
        --warehouse /data/kg \
        --context-id prod \
        --run-id nightly-2026-08-17

Behavior per invocation:
- reads the transcripts table (parquet path, or an Iceberg table name with
  ``--format iceberg``; columns conv_id, turn_idx, role, text, tool, ts);
- resumes from the warehouse's ``processed_chunks`` table when present —
  windows whose (conv_id, content_hash) were already processed are skipped
  (ChunkHistoryStore semantics), so reruns and crash-recovery are idempotent;
- runs the full pipeline (assembly -> extraction -> linking ->
  canonicalization -> gates -> revision-ready propositions -> projection);
- MERGEs propositions / entities / edges by their natural keys and appends
  lineage + collector counters alongside (per-stage metrics, the north rule's
  "lineage and counter metrics written alongside each stage");
- prints ONE JSON line of run counters to stdout.

No ``master`` is set here: spark-submit / the cluster manager owns
deployment; ``get_spark`` only applies engine defaults (AQE, skew-join
handling, Arrow batching) without overriding cluster-provided conf.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dice-spark", description=__doc__)
    p.add_argument("--input", required=True, help="transcripts parquet path or Iceberg table name")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--warehouse", required=True, help="warehouse root path")
    p.add_argument("--backend", default="auto", choices=["auto", "parquet", "iceberg", "json"])
    p.add_argument("--context-id", default="default")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--perspective", default="ALL", choices=["ALL", "USER", "AGENT"])
    p.add_argument("--min-confidence", type=float, default=None)
    p.add_argument("--spill-dir", default=None,
                   help="shared storage for stage intermediates (cluster shape)")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore the processed_chunks checkpoint table")
    return p


def main(argv: list[str] | None = None) -> int:
    from dice_spark.operators.adaptive import local_frame
    from dice_spark.pipeline import DEFAULT_MIN_CONFIDENCE, run_pipeline
    from dice_spark.session import get_spark
    from dice_spark.storage import make_warehouse

    args = build_parser().parse_args(argv)
    # under spark-submit the session already exists with cluster conf; honor it
    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark("dice-spark")

    if args.format == "iceberg":
        transcripts = spark.read.table(args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    wh = make_warehouse(spark, args.warehouse, backend=args.backend)
    processed = None
    if not args.no_resume and wh.exists("processed_chunks"):
        processed = wh.read("processed_chunks")

    out = run_pipeline(
        transcripts,
        context_id=args.context_id,
        processed_chunks=processed,
        run_id=args.run_id,
        perspective=args.perspective,
        min_confidence=(
            args.min_confidence if args.min_confidence is not None else DEFAULT_MIN_CONFIDENCE
        ),
        spill_dir=args.spill_dir,
    )

    wh.merge("propositions", out["propositions"], keys=["prop_id"])
    wh.merge("entities", out["entities"], keys=["entity_id"])
    wh.merge("edges", out["edges"], keys=["edge_ref"])
    chunks = out["chunks"].select(
        F.lit(args.context_id).alias("context_id"),
        "conv_id", "window_start", "window_end", "content_hash",
        F.current_timestamp().alias("processed_at"),
    )
    wh.merge("processed_chunks", chunks, keys=["conv_id", "content_hash"])
    wh.append("projection_lineage", out["projection_records"])

    counters = {
        "run_id": args.run_id,
        "context_id": args.context_id,
        "n_turns": transcripts.count(),
        "n_chunks": out["chunks"].count(),
        "n_triples": out["triples"].count(),
        "n_propositions": out["propositions"].count(),
        "n_entities": out["entities"].count(),
        "n_edges": out["edges"].count(),
    }
    # Durable per-stage counter metrics alongside the lineage (one row per
    # run) — the audit trail a rerun or a monitor reads without re-counting.
    # Values bind to schema fields by NAME (the row tuple is read off the
    # schema's field names), so adding or reordering a counter key can't
    # silently shift values between the all-long columns.
    schema = DataType.fromDDL(
        "run_id string, context_id string, n_turns long, n_chunks long,"
        " n_triples long, n_propositions long, n_entities long,"
        " n_edges long, finished_at timestamp"
    )
    row = {**counters, "finished_at": None}
    wh.append(
        "stage_counters",
        local_frame(spark, [tuple(row[f] for f in schema.fieldNames())], schema).withColumn(
            "finished_at", F.current_timestamp()
        ),
    )
    print(json.dumps(counters))
    return 0


if __name__ == "__main__":
    sys.exit(main())
