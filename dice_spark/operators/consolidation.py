"""Dream-loop consolidation passes: abstraction, contradiction resolution,
decay sweep — run in registration order over one ACTIVE snapshot.

Ports operations/consolidation/* (/root/reference/dice/src/main/kotlin/com/
embabel/dice/operations/consolidation/):

* AbstractionPass (:48-100): level-0 ACTIVE propositions group by resolved
  entity; groups with >= threshold distinct members abstract into a
  higher-level proposition; an idempotency guard skips groups already covered
  by an existing abstraction's sourceIds; unpinned sources retire to
  SUPERSEDED (pinned are eviction-immune and stay ACTIVE); a source in two
  qualifying groups is superseded once.
* ContradictionResolutionPass (:40-92): ACTIVE pairs sharing an entity are
  classified; for each CONTRADICTORY unordered pair (resolved once), the lower
  effective confidence loses and retires to CONTRADICTED — unless pinned, in
  which case it is routed to review instead of silently dropped.
* DecaySweepPass: delegates to the sweep collector (operators/sweep.py).
* DefaultDreamLoopOrchestrator (projection/memory/DefaultDreamLoopOrchestrator.kt:46-126):
  passes run in order over the same snapshot; the change-volume threshold gate
  (active-count delta >= 10) belongs to the caller who owns the baseline state.

The abstractor is an LLM seam in the reference (PropositionAbstractor); the
deterministic stand-in summarizes the group's top ``target_count`` texts into
one level-1 proposition — a real model replaces ``_abstract_text`` only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dice_spark.functions.decay import effective_confidence

ABSTRACTION_THRESHOLD = 5
ABSTRACTION_TARGET_COUNT = 3
MAX_LEVEL = 3
# Per-group id arrays are capped (rank-before-collect, the exact_dedup
# MAX_GROUP_IDS pattern, dedup.py:29): the group key is a resolved entity and
# Zipf-head entities ("the user") mention nearly every proposition — an
# unbounded collect_set would put the head entity's entire proposition set in
# one array cell at 100x scale. Counts/min/max/avg stay exact (computed as
# scalar aggregates, never from the capped array).
MAX_SOURCE_IDS = 100


def abstraction_pass(
    props: DataFrame,
    prop_entities: DataFrame,
    context_id: str,
    threshold: int = ABSTRACTION_THRESHOLD,
    target_count: int = ABSTRACTION_TARGET_COUNT,
    max_level: int = MAX_LEVEL,
    source_level: int = 0,
) -> DataFrame:
    """One abstraction cycle -> props + ``consolidation_outcome`` column
    (ABSTRACTED new rows | SUPERSEDED retired sources | UNCHANGED).

    props: proposition rows with (prop_id, context_id, text, confidence,
    decay, pinned, status, level, source_ids array). prop_entities:
    (prop_id, resolved_id) — must cover ``source_level`` propositions (for
    level > 0 that means abstraction rows' group entities; see
    ``abstraction_cycles`` which threads them automatically).

    ``source_level`` selects which stratum groups (default 0, the
    reference pass's snapshot filter); the minted abstractions carry
    ``source_level + 1`` — the abstractor contract ``level = max(source
    levels) + 1`` (PropositionAbstractor.kt:40). When that would exceed
    ``max_level``, the group is skipped and its sources stay ACTIVE
    (AbstractionPass.kt:86-94 — never retire sources with nothing to
    replace them), so the pass is a no-op.
    """
    new_level = source_level + 1
    if new_level > max_level:
        base_cols = [
            "prop_id", "context_id", "text", "confidence", "decay", "pinned",
            "status", "level", "source_ids",
        ]
        return (
            props.select(*base_cols)
            .withColumn("entity_id", F.lit(None).cast("string"))
            .withColumn("consolidation_outcome", F.lit("UNCHANGED"))
        )
    level0 = props.filter(
        (F.col("status") == "ACTIVE") & (F.col("level") == source_level)
    )
    member = (
        prop_entities.filter(F.col("resolved_id").isNotNull())
        .join(level0.select("prop_id"), "prop_id", "left_semi")
        .select("resolved_id", "prop_id")
        .distinct()
    )
    groups = (
        member.groupBy("resolved_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= threshold)
    )
    qualifying = member.join(groups, "resolved_id")

    # Idempotency guard: a group already covered by an existing higher-level
    # proposition's sourceIds is skipped (AbstractionPass.kt:66-74).
    existing = props.filter(F.col("level") > 0).select(
        F.col("prop_id").alias("abs_id"), F.explode("source_ids").alias("src")
    )
    hits = (
        qualifying.join(existing, qualifying.prop_id == existing.src)
        .groupBy("resolved_id", "abs_id", "n_members")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_members"))
        .select("resolved_id")
        .distinct()
    )
    eligible = qualifying.join(hits, "resolved_id", "left_anti")

    # Abstractor stand-in: summarize the group's top target_count texts
    # (lexicographic — deterministic) into one level-1 proposition.
    detail = eligible.join(
        level0.select("prop_id", "text", "confidence", "decay"), "prop_id"
    )
    # Rank BEFORE collect so no agg buffer ever holds an unbounded array:
    # the smallest MAX_SOURCE_IDS prop_ids survive into source_ids, the
    # lexicographically-first target_count texts into the summary. Both
    # window specs share the partition key -> one shuffle, two sorts.
    w_id = Window.partitionBy("resolved_id").orderBy("prop_id")
    w_txt = Window.partitionBy("resolved_id").orderBy("text", "prop_id")
    detail = detail.withColumn("_id_rank", F.row_number().over(w_id)).withColumn(
        "_txt_rank", F.row_number().over(w_txt)
    )
    abstractions = (
        detail.groupBy("resolved_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_id_rank") <= MAX_SOURCE_IDS, F.col("prop_id"))
                )
            ).alias("source_ids"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_txt_rank") <= target_count, F.col("text"))
                )
            ).alias("_texts"),
            F.count(F.lit(1)).alias("_n_members"),
            F.min("prop_id").alias("_min_id"),
            F.max("prop_id").alias("_max_id"),
            F.round(F.avg("confidence"), 6).alias("confidence"),
            F.round(F.avg("decay"), 6).alias("decay"),
        )
        .select(
            # The id digests the member set, not just the entity: when a
            # group grows past a prior abstraction the guard (full coverage
            # only) re-abstracts, and the new row must NOT collide with the
            # stale one — the reference's abstractor mints fresh ids per run
            # (AbstractionPass.kt:104 "abstractions all carry fresh ids").
            # The digest covers (n_members, min, max, capped ids): any
            # membership change moves at least one of those, while an
            # UNCHANGED mega-group (> MAX_SOURCE_IDS members, which the
            # coverage guard below cannot see) re-mints the SAME id, so the
            # warehouse MERGE keeps re-abstraction idempotent.
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(context_id),
                    F.lit("abs"),
                    F.col("resolved_id"),
                    F.col("_n_members").cast("string"),
                    F.col("_min_id"),
                    F.col("_max_id"),
                    F.array_join("source_ids", ","),
                )
            ).alias("prop_id"),
            F.lit(context_id).alias("context_id"),
            F.concat(
                F.lit("Summary["), F.col("resolved_id"), F.lit("]: "),
                F.array_join("_texts", " | "),
            ).alias("text"),
            "confidence",
            "decay",
            F.lit(False).alias("pinned"),
            F.lit("ACTIVE").alias("status"),
            F.lit(new_level).alias("level"),
            "source_ids",
            F.col("resolved_id").alias("entity_id"),
            F.lit("ABSTRACTED").alias("consolidation_outcome"),
        )
    )

    retired_ids = (
        eligible.select("prop_id")
        .distinct()
        .join(level0.filter(~F.col("pinned")).select("prop_id"), "prop_id", "left_semi")
    )
    base_cols = [
        "prop_id", "context_id", "text", "confidence", "decay", "pinned",
        "status", "level", "source_ids",
    ]
    superseded = (
        props.join(retired_ids, "prop_id", "left_semi")
        .select(*base_cols)
        .withColumn("status", F.lit("SUPERSEDED"))
        .withColumn("entity_id", F.lit(None).cast("string"))
        .withColumn("consolidation_outcome", F.lit("SUPERSEDED"))
    )
    unchanged = (
        props.join(retired_ids, "prop_id", "left_anti")
        .select(*base_cols)
        .withColumn("entity_id", F.lit(None).cast("string"))
        .withColumn("consolidation_outcome", F.lit("UNCHANGED"))
    )
    return abstractions.unionByName(superseded).unionByName(unchanged)


def abstraction_cycles(
    props: DataFrame,
    prop_entities: DataFrame,
    context_id: str,
    threshold: int = ABSTRACTION_THRESHOLD,
    target_count: int = ABSTRACTION_TARGET_COUNT,
    max_level: int = MAX_LEVEL,
) -> dict[str, DataFrame]:
    """Repeated abstraction cycles up to ``max_level`` — the reference reaches
    levels > 1 by re-running the pass over snapshots where prior abstractions
    are themselves members (AbstractionPass run per dream-loop cycle;
    level = max(source levels) + 1 per PropositionAbstractor.kt:40).

    One cycle per source level 0..max_level-1, each reading the previous
    cycle's store; a cycle's ABSTRACTED rows join the mention relation under
    their group entity so the next level can group them. The per-level
    idempotency guard is abstraction_pass's own (full sourceIds coverage).
    Returns {"store": final props, "counters": (level, consolidation_outcome,
    n)}.
    """
    store = props
    ments = prop_entities.select("prop_id", "resolved_id")
    counters = None
    for src_level in range(0, max_level):
        out = abstraction_pass(
            store, ments, context_id,
            threshold=threshold, target_count=target_count,
            max_level=max_level, source_level=src_level,
        ).localCheckpoint(eager=False)  # bound plan growth across cycles
        level_counts = (
            out.groupBy("consolidation_outcome")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("level", F.lit(src_level + 1))
        )
        counters = level_counts if counters is None else counters.unionByName(level_counts)
        ments = ments.unionByName(
            out.filter(
                (F.col("consolidation_outcome") == "ABSTRACTED")
                & F.col("entity_id").isNotNull()
            ).select("prop_id", F.col("entity_id").alias("resolved_id"))
        )
        store = out.drop("entity_id", "consolidation_outcome")
    return {"store": store, "counters": counters}


def contradiction_pass(
    props: DataFrame,
    as_of: str,
    classifier=None,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """One contradiction-resolution cycle -> props + ``consolidation_outcome``
    (CONTRADICTED | REVIEW for pinned losers | UNCHANGED).

    Pairs of ACTIVE propositions sharing an entity (or lowered span) classify
    through the batched UDF seam; each CONTRADICTORY unordered pair resolves
    once: the lower effective confidence at ``as_of`` loses (ties keep the
    lexicographically smaller prop_id — the reference's iteration-order tie
    made deterministic). Pinned losers route to REVIEW.
    """
    from dice_spark.operators.revision import (
        candidate_pairs_by_overlap,
        classify_pairs_udf,
        prop_mentions,
    )

    active = props.filter(F.col("status") == "ACTIVE")
    ments = mentions if mentions is not None else prop_mentions(active)
    pairs = candidate_pairs_by_overlap(ments, ments).filter(
        F.col("existing_id") < F.col("new_id")  # each unordered pair once
    )
    with_text = pairs.join(
        active.select(F.col("prop_id").alias("existing_id"), F.col("text").alias("existing_text")),
        "existing_id",
    ).join(
        active.select(F.col("prop_id").alias("new_id"), F.col("text").alias("new_text")),
        "new_id",
    )
    classifier = classifier if classifier is not None else classify_pairs_udf
    contra = classifier(with_text).filter(F.col("relation") == "CONTRADICTORY")

    if "content_revised" in props.columns:
        eff = F.round(
            effective_confidence(
                as_of=F.to_timestamp(F.lit(as_of)),
                content_revised=F.col("content_revised"),
                valid_from=F.lit(None).cast("timestamp"),
                valid_to=F.lit(None).cast("timestamp"),
                invalidated_at=F.lit(None).cast("timestamp"),
            ),
            6,
        )
    else:
        # No decay anchor on this store -> effective == raw confidence.
        eff = F.round(F.col("confidence"), 6)
    scored = active.select("prop_id", "pinned", eff.alias("_eff"))
    a = scored.select(
        F.col("prop_id").alias("existing_id"), F.col("_eff").alias("eff_a"), F.col("pinned").alias("pin_a")
    )
    b = scored.select(
        F.col("prop_id").alias("new_id"), F.col("_eff").alias("eff_b"), F.col("pinned").alias("pin_b")
    )
    judged = contra.join(a, "existing_id").join(b, "new_id")
    loser = F.when(F.col("eff_a") < F.col("eff_b"), F.col("existing_id")).when(
        F.col("eff_b") < F.col("eff_a"), F.col("new_id")
    ).otherwise(F.least("existing_id", "new_id"))
    loser_pin = F.when(loser == F.col("existing_id"), F.col("pin_a")).otherwise(F.col("pin_b"))
    losers = judged.select(
        loser.alias("prop_id"),
        F.when(loser_pin, "REVIEW").otherwise("CONTRADICTED").alias("consolidation_outcome"),
    ).distinct()

    flagged = props.join(losers, "prop_id", "left")
    return flagged.withColumn(
        "status",
        F.when(F.col("consolidation_outcome") == "CONTRADICTED", "CONTRADICTED").otherwise(
            F.col("status")
        ),
    ).withColumn(
        "consolidation_outcome", F.coalesce("consolidation_outcome", F.lit("UNCHANGED"))
    )


def dream_loop(
    props: DataFrame,
    prop_entities: DataFrame,
    context_id: str,
    as_of: str,
    threshold: int = ABSTRACTION_THRESHOLD,
    retire_below: float | None = None,
) -> dict[str, DataFrame]:
    """One consolidation cycle in registration order (abstraction ->
    contradiction resolution -> optional decay sweep), each pass reading the
    previous pass's output — the orchestrator's single-snapshot, single-write
    contract. Returns the final store plus per-pass outcome counters. The
    change-volume threshold gate (active delta >= 10 since the last cycle) is
    the caller's state. ``retire_below`` enables the DecaySweepPass tail
    (delegating to operators/sweep.decay_sweep, the reference's pass order);
    None keeps the two-pass cycle."""
    after_abs = abstraction_pass(props, prop_entities, context_id, threshold=threshold)
    store1 = after_abs.drop("consolidation_outcome")
    # Mention relation for the revised store: original props keep their
    # resolved ids; an abstraction mentions its group entity.
    ments = prop_entities.select(
        "prop_id", F.lit(None).cast("string").alias("span"), "resolved_id"
    ).unionByName(
        store1.filter(F.col("entity_id").isNotNull()).select(
            "prop_id", F.lit(None).cast("string").alias("span"),
            F.col("entity_id").alias("resolved_id"),
        )
    )
    after_contra = contradiction_pass(store1.drop("entity_id"), as_of, mentions=ments)
    counters = (
        after_abs.groupBy("consolidation_outcome").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("pass", F.lit("abstraction"))
        .unionByName(
            after_contra.groupBy("consolidation_outcome")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("pass", F.lit("contradiction"))
        )
    )
    result = {"store": after_contra, "counters": counters}
    if retire_below is not None:
        from dice_spark.operators.sweep import decay_sweep

        store2 = after_contra.drop("consolidation_outcome")
        # Stores without temporal metadata decay from as_of itself (age 0 ->
        # effective == raw confidence), matching the contradiction pass's
        # no-anchor fallback above.
        ts = F.to_timestamp(F.lit(as_of))
        if "content_revised" not in store2.columns:
            store2 = store2.withColumn("content_revised", ts)
        for c in ("valid_from", "valid_to", "invalidated_at"):
            if c not in store2.columns:
                store2 = store2.withColumn(c, F.lit(None).cast("timestamp"))
        swept, sweep_records = decay_sweep(
            store2, ts, retire_below=retire_below, run_id=f"dream-{context_id}"
        )
        result["store"] = swept
        result["sweep_records"] = sweep_records
        result["counters"] = counters.unionByName(
            sweep_records.groupBy(F.col("lifecycle").alias("consolidation_outcome"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("pass", F.lit("decay_sweep"))
        )
    return result
