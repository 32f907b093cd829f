"""Admission gates between revision and persist/project.

Ports StandardGates (/root/reference/dice/src/main/kotlin/com/embabel/dice/
proposition/gate/StandardGates.kt): decisions are Persist / Reject /
RouteToReview / SkipProjection / Demote (docs/design/architecture.md:86-96).
All gates are pure column predicates; the pipeline composes them as one
``when`` chain per row (ExtractionGatePipeline equivalent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROJECTION_ELIGIBILITY_MIN = 0.3  # StandardGates.kt:189-224


def confidence_gate(min_confidence: float) -> Column:
    """Reject if effective confidence < min (StandardGates.kt:40-65)."""
    return F.when(F.col("eff_conf") < min_confidence, F.lit("Reject"))


def apply_gates(
    props: DataFrame,
    min_confidence: float = 0.0,
    min_trust: float | None = None,
    floors: DataFrame | None = None,
) -> DataFrame:
    """Compose the gate pipeline -> ``gate_decision`` column (default Persist).

    Expects ``eff_conf`` (and optionally revision_outcome / trust_score /
    status) on the input. First matching gate wins, like the reference's
    ordered gate pipeline.
    """
    p = props
    if "revision_outcome" not in p.columns:
        p = p.withColumn("revision_outcome", F.lit(None).cast("string"))
    if "trust_score" not in p.columns:
        p = p.withColumn("trust_score", F.lit(None).cast("double"))
    if "status" not in p.columns:
        p = p.withColumn("status", F.lit("ACTIVE"))
    if floors is not None:
        # Evidence floors (StandardGates.kt:247-312; EvidenceFloor.kt:48-90):
        # first-DECLARED floor whose predicate is a substring of the text wins
        # — including the documented quirk that a 'works with' floor also
        # catches 'networks with' (substring, not word-boundary, matching).
        # Floor unmet -> Demote to the declared weaker predicate, or review.
        fl = floors.select(
            F.col("priority").alias("floor_priority"),
            F.col("predicate").alias("floor_pred"),
            F.col("min_confidence").alias("floor_min"),
            F.col("demote_to"),
        )
        from pyspark.sql.window import Window

        j = p.join(
            F.broadcast(fl),
            F.instr(F.lower(F.col("text")), F.col("floor_pred")) > 0,
            "left",
        )
        w = Window.partitionBy("prop_id").orderBy(F.asc_nulls_last("floor_priority"))
        p = j.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    else:
        p = p.withColumn("floor_min", F.lit(None).cast("double")).withColumn(
            "demote_to", F.lit(None).cast("string")
        )

    decision = confidence_gate(min_confidence)
    decision = decision.when(
        F.col("floor_min").isNotNull() & (F.col("eff_conf") < F.col("floor_min")) & F.col("demote_to").isNotNull(),
        F.lit("Demote"),
    ).when(
        F.col("floor_min").isNotNull() & (F.col("eff_conf") < F.col("floor_min")),
        F.lit("RouteToReview"),
    )
    decision = decision.when(
        F.col("revision_outcome").isin("MERGED", "REINFORCED", "CONTRADICTED"), F.lit("RouteToReview")
    )
    if min_trust is not None:
        decision = decision.when(
            F.col("trust_score").isNotNull() & (F.col("trust_score") < min_trust), F.lit("RouteToReview")
        )
    decision = decision.when(
        (F.col("eff_conf") < PROJECTION_ELIGIBILITY_MIN) | (F.col("status") == "CONTRADICTED"),
        F.lit("SkipProjection"),
    )
    out = p.withColumn("gate_decision", F.coalesce(decision, F.lit("Persist")))
    # Demotion swaps the predicate for the declared weaker one.
    if floors is not None:
        out = out.withColumn(
            "predicate",
            F.when(F.col("gate_decision") == "Demote", F.col("demote_to")).otherwise(F.col("predicate")),
        )
    return out.drop("floor_pred", "floor_priority")
