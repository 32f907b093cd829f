"""Graph projection: propositions -> (subj, pred, obj) edges + typed lineage.

Semantics match RelationBasedGraphProjector.project (/root/reference/dice/src/
main/kotlin/com/embabel/dice/projection/graph/RelationBasedGraphProjector.kt:221-283):

1. policy check — DefaultProjectionPolicy requires confidence >= 0.85 AND a
   fully resolved proposition (ProjectionPolicy.kt:47-61);
2. predicate match — first declared relation whose predicate is a
   case-insensitive substring of the text (done upstream at extraction; the
   projector validates it exists);
3. subject/object type validation against the relation's declared constraints,
   case-insensitive (":339-384");
4. both SUBJECT and OBJECT mentions must carry a resolved id.

Failures are typed (PolicyRejected / NoMatchingPredicate / TypeMismatch /
UnresolvedMention) and become lineage rows (GraphProjectionService.kt:99-165).

Scale notes: relations is broadcast; the only shuffle is the edge-level
dedup/MERGE keyed on edge_ref. Edge output partitions by bucket(source_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dice_spark.functions.textfns import upper_snake

DEFAULT_MIN_CONFIDENCE = 0.85  # DefaultProjectionPolicy (ProjectionPolicy.kt:47-61)
LENIENT_MIN_CONFIDENCE = 0.7

# Cap on the per-edge source_prop_ids array. A Zipf-head edge (the same fact
# extracted from millions of conversations) would otherwise collect its entire
# supporting-proposition set into ONE row's array — the exact per-group OOM
# shape capped in dedup.exact_dedup / consolidation.abstraction_pass. The
# exact support count survives in n_source_props.
MAX_EDGE_SOURCE_IDS = 100


def classify_projection(
    props: DataFrame,
    relations: DataFrame,
    min_confidence: float = DEFAULT_MIN_CONFIDENCE,
) -> DataFrame:
    """Adds ``lifecycle`` (PROJECTED | SKIPPED) and ``reason`` columns.

    Expects proposition rows with subj/obj resolved ids already attached
    (columns ``subj_id``, ``obj_id`` — null when unresolved).
    """
    p = props.join(
        F.broadcast(relations.select("predicate", "subject_type", "object_type")),
        "predicate",
        "left",
    )
    type_ok = (
        (F.col("subject_type").isNull() | (F.lower("subject_type") == F.lower("subj_type")))
        & (F.col("object_type").isNull() | (F.lower("object_type") == F.lower("obj_type")))
    )
    reason = (
        F.when(F.col("confidence") < min_confidence, "PolicyRejected")
        .when(F.col("subject_type").isNull() & F.col("object_type").isNull() & F.col("predicate").isNull(), "NoMatchingPredicate")
        .when(F.col("subj_id").isNull() | F.col("obj_id").isNull(), "UnresolvedMention")
        .when(~type_ok, "TypeMismatch")
    )
    return p.withColumn("reason", reason).withColumn(
        "lifecycle", F.when(F.col("reason").isNull(), "PROJECTED").otherwise("SKIPPED")
    )


def edge_ref(src="source_id", edge_type="edge_type", dst="target_id") -> Column:
    """The edge MERGE key "src-[TYPE]->dst" (GraphProjector.kt:55); each part
    is a column name or a Column."""
    return F.concat(src, F.lit("-["), edge_type, F.lit("]->"), dst)


def edge_rows(classified: DataFrame) -> DataFrame:
    """PROJECTED rows -> one edge row per proposition (before the MERGE)."""
    return classified.filter(F.col("lifecycle") == "PROJECTED").select(
        F.col("subj_id").alias("source_id"),
        F.col("obj_id").alias("target_id"),
        upper_snake("predicate").alias("edge_type"),
        "confidence",
        F.col("text").alias("description"),
        F.col("prop_id"),
    )


def aggregate_edges(rows: DataFrame) -> DataFrame:
    """Per-proposition edge rows -> one edge per edge_ref (MERGE key).

    Multiple propositions emitting the same edge merge: max confidence,
    unioned source_prop_ids (capped at MAX_EDGE_SOURCE_IDS, smallest ids
    kept — deterministic), exact support count in n_source_props — the
    reconciler's Adopt path (projection/lineage/Reconciler.kt).
    """
    from pyspark.sql import Window

    # rank-before-collect: the window partitions on the same key as the
    # groupBy, so Catalyst reuses one exchange — no extra shuffle.
    rank_w = Window.partitionBy("source_id", "target_id", "edge_type").orderBy("prop_id")
    return (
        rows.withColumn("_id_rank", F.row_number().over(rank_w))
        .groupBy("source_id", "target_id", "edge_type")
        .agg(
            F.round(F.max("confidence"), 6).alias("confidence"),
            F.min("description").alias("description"),
            F.array_sort(
                F.collect_set(
                    F.when(F.col("_id_rank") <= MAX_EDGE_SOURCE_IDS, F.col("prop_id"))
                )
            ).alias("source_prop_ids"),
            F.count(F.lit(1)).alias("n_source_props"),
        )
        .withColumn("edge_ref", edge_ref())
    )


def project_edges(classified: DataFrame) -> DataFrame:
    """PROJECTED rows -> edges table; one edge per edge_ref."""
    return aggregate_edges(edge_rows(classified))


def projection_records(classified: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per proposition per run (ProjectionRecord)."""
    return classified.select(
        F.lit(run_id).alias("run_id"),
        "prop_id",
        "lifecycle",
        F.when(
            F.col("lifecycle") == "PROJECTED",
            edge_ref("subj_id", upper_snake("predicate"), "obj_id"),
        ).alias("target_ref"),
        "reason",
    )


def grounding_edges(props: DataFrame, nodes: DataFrame, node_id_col: str = "node_id") -> dict:
    """Wire prop -[GROUNDED_IN]-> source-node edges
    (projection/grounding/GroundingWiringService.kt:57-69,
    DefaultGroundingResolver.kt:45-53): each distinct grounding id resolves
    exactly against the node registry, else by namespace suffix (the part
    after the FIRST ':', matching node ids that END WITH it — bare ids never
    suffix-match, so legacy chunk hashes stay skipped). Unresolvable ids are
    skipped, not errors.

    Returns {"edges", "report"}: edges carry edge_ref (the MERGE key, so
    re-wiring is idempotent); report is one row of attempted/written/skipped.

    Scale note: the suffix pass is an endswith join against the registry —
    the registry is vocabulary-sized and broadcast; at 10^7+ nodes block both
    sides on the last path segment first.
    """
    g = (
        props.select("prop_id", F.explode(F.array_distinct("grounding")).alias("gid"))
        .filter(F.length("gid") > 0)
        # read by the exact join, the missed/unresolved anti-joins and the
        # report counts — one lazy checkpoint instead of re-running the
        # upstream proposition pipeline per consumer
        .localCheckpoint(eager=False)
    )
    reg = nodes.select(F.col(node_id_col).alias("target_id"))
    exact = g.join(F.broadcast(reg), g.gid == reg.target_id)
    missed = g.join(exact.select("prop_id", "gid"), ["prop_id", "gid"], "left_anti")
    suffix = F.expr("substring(gid, instr(gid, ':') + 1)")
    with_suffix = missed.withColumn("_sfx", suffix).filter(
        F.col("gid").contains(":") & (F.length("_sfx") > 0) & (F.col("_sfx") != F.col("gid"))
    )
    by_suffix = with_suffix.join(
        F.broadcast(reg), reg.target_id.endswith(F.col("_sfx"))
    ).drop("_sfx")
    resolved = exact.unionByName(by_suffix)
    edges = resolved.select(
        F.col("prop_id").alias("source_id"),
        "target_id",
        F.lit("GROUNDED_IN").alias("edge_type"),
        edge_ref("prop_id", F.lit("GROUNDED_IN"), "target_id").alias("edge_ref"),
    ).distinct()
    unresolved = g.join(resolved.select("prop_id", "gid").distinct(), ["prop_id", "gid"], "left_anti")
    report = (
        g.select(F.count(F.lit(1)).alias("attempted"))
        .crossJoin(resolved.select(F.count(F.lit(1)).alias("written")))
        .crossJoin(unresolved.select(F.count(F.lit(1)).alias("skipped")))
    )
    return {"edges": edges, "report": report}


TERMINAL_STATUSES = ["SUPERSEDED", "CONTRADICTED", "STALE"]


def reconcile_edges(batch_edges: DataFrame, existing_edges: DataFrame | None) -> DataFrame:
    """ADOPTED vs PROJECTED against the durable graph
    (projection/lineage/RepositoryBackedReconciler.kt:42-89,
    ProjectionLifecycle.kt:27-30): a batch edge whose edge_ref already exists
    in the store is Adopt(targetRef) — the existing artifact is reused and its
    lineage row reads ADOPTED; an unseen edge_ref is CreateNew -> PROJECTED.

    One broadcast-or-hash semi-join on edge_ref; adds a ``lifecycle`` column.
    """
    if existing_edges is None:
        return batch_edges.withColumn("lifecycle", F.lit("PROJECTED"))
    known = existing_edges.select("edge_ref").distinct()
    flagged = batch_edges.join(
        known.withColumn("_known", F.lit(True)), "edge_ref", "left"
    )
    return flagged.withColumn(
        "lifecycle", F.when(F.col("_known"), "ADOPTED").otherwise("PROJECTED")
    ).drop("_known")


def stale_cascade(records: DataFrame, props: DataFrame) -> DataFrame:
    """Mark lineage records stale when their proposition reached a terminal
    status (ProjectionLineageStaleCascade.kt: SUPERSEDED / CONTRADICTED /
    STALE). The event-listener push becomes one set-oriented semi-join flag —
    same observable outcome, no mutable store."""
    terminal = (
        props.filter(F.col("status").isin(TERMINAL_STATUSES)).select("prop_id").distinct()
    )
    return records.join(
        terminal.withColumn("_t", F.lit(True)), "prop_id", "left"
    ).withColumn("stale", F.coalesce(F.col("_t"), F.lit(False))).drop("_t")
