"""Stage-by-stage wall-time profile of the `consolidation` bench query
(q_consolidation in __spark_entry__.py) at a given SF dir.

Each stage is forced with an eager localCheckpoint (or a count) so the timer
brackets exactly that stage's work; downstream stages read the materialized
result, never recompute upstream. Run in a fresh JVM:

    python tools/profile_consolidation.py [sf_dir]
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
    import __spark_entry__ as e
    from dice_spark.operators.consolidation import abstraction_pass
    from dice_spark.operators.extraction import triples_to_propositions
    from dice_spark.pipeline import canonicalize, resolve_ids

    stages: dict[str, float] = {}

    def mark(name: str, t0: float) -> None:
        stages[name] = round(time.monotonic() - t0, 2)
        print(f"  {name}: {stages[name]}s", flush=True)

    t0 = time.monotonic()
    triples = e._triples(spark, sf_dir).localCheckpoint(eager=True)
    mark("triples (assembly+extraction)", t0)

    t0 = time.monotonic()
    props = triples_to_propositions(triples, e.CTX).localCheckpoint(eager=True)
    mark("triples_to_propositions", t0)

    t0 = time.monotonic()
    _, mapping, _ = canonicalize(triples, e.CTX)
    mapping = mapping.localCheckpoint(eager=True)
    mark("canonicalize (mention gate+edges+CC+agg)", t0)

    t0 = time.monotonic()
    resolved = resolve_ids(props, mapping).localCheckpoint(eager=True)
    mark("resolve_ids (subj+obj)", t0)

    t0 = time.monotonic()
    prop_entities = (
        resolved.select("prop_id", F.col("subj_id").alias("resolved_id"))
        .unionByName(resolved.select("prop_id", F.col("obj_id").alias("resolved_id")))
        .filter(F.col("resolved_id").isNotNull())
        .localCheckpoint(eager=True)
    )
    mark("prop_entities union", t0)

    t0 = time.monotonic()
    out = abstraction_pass(
        resolved.withColumn("source_ids", F.col("grounding")), prop_entities, e.CTX
    )
    rows = (
        out.groupBy("consolidation_outcome")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("confidence"), 6).alias("sum_conf"))
        .collect()
    )
    mark("abstraction_pass + final agg", t0)

    total = round(sum(stages.values()), 2)
    print(json.dumps({"sf_dir": sf_dir, "stages": stages, "total_sec": total,
                      "result": {r["consolidation_outcome"]: r["n"] for r in rows}}))
    spark.stop()


if __name__ == "__main__":
    main()
