"""Per-tier wall-time profile of the `linking_ladder` bench query
(q_linking_ladder in __spark_entry__.py).

Uses resolve_against_entities(debug_timings=...) — each tier is eagerly
materialized under its own timer, so the seconds attribute to the tier that
computed them (the anti-join feeding a tier bills to that tier). Run in a
fresh JVM:

    python tools/profile_linking.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dice_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    from dice_spark.operators.linking import (
        resolution_counters,
        resolve_against_entities,
    )
    from dice_spark.pipeline import canonicalize

    stages: dict[str, float] = {}

    t0 = time.monotonic()
    entities, _, _ = canonicalize(e._triples(spark, sf_dir), e.CTX)
    registry = entities.select(
        "entity_id", "canonical_name", "entity_type"
    ).localCheckpoint(eager=True)
    stages["setup (triples+canonicalize+registry)"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    variants = [
        F.col("canonical_name"),
        F.concat(F.lit("Dr. "), F.col("canonical_name")),
        F.array_join(F.reverse(F.split("canonical_name", " ")), " "),
        F.element_at(F.split("canonical_name", " "), -1),
        F.concat(F.col("canonical_name"), F.lit("x")),
    ]
    probe = (
        registry.select(
            F.explode(F.array(*variants)).alias("span"),
            F.col("entity_type"),
            F.lit(None).cast("string").alias("suggested_id"),
        )
        .unionByName(
            registry.select(
                F.concat(F.lit("ref#"), F.col("entity_id")).alias("span"),
                F.col("entity_type"),
                F.col("entity_id").alias("suggested_id"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    stages["probe build"] = round(time.monotonic() - t0, 2)

    tier: dict[str, float] = {}
    t0 = time.monotonic()
    resolved = resolve_against_entities(probe, registry, vector_tier=True, debug_timings=tier)
    counters = {
        r["resolution_level"]: r["n"] for r in resolution_counters(resolved).collect()
    }
    stages["final join + counters"] = round(time.monotonic() - t0 - sum(tier.values()), 2)
    stages.update({f"tier:{k}": v for k, v in tier.items()})

    total = round(sum(stages.values()), 2)
    print(json.dumps({"sf_dir": sf_dir, "stages": stages, "total_sec": total,
                      "counters": counters}))
    spark.stop()


if __name__ == "__main__":
    main()
