"""Revision: merge / reinforce / contradict — the evidence-accumulation stage.

Ports the deterministic parts of LlmPropositionReviser (/root/reference/dice/
src/main/kotlin/com/embabel/dice/proposition/revision/LlmPropositionReviser.kt):

* canonical-text fast path (:284-304): exact canonicalize(text) match vs
  ACTIVE propositions in the same context -> Merged, no classifier call;
* merge arithmetic (:666-684): conf' = min(c_old + 0.3*c_new, 0.99),
  decay' = 0.7*d_old, grounding/provenance unioned distinct, reinforce+1;
* reinforce arithmetic (:690-708): conf' = min(c_old + 0.1*c_new, 0.95),
  decay' = 0.85*d_old;
* contradiction (:513-550): unpinned original -> conf' = max(0.3*c, 0.05),
  decay' = min(d + 0.15, 1.0), status=CONTRADICTED; PINNED originals are kept
  intact and routed to review;
* entity-overlap pre-filter (:344-363): candidates sharing no entity are
  dropped before any expensive classification (a semi-join);
* SIMILAR acceptance floor: classifier similarity < 0.7 -> UNRELATED (:85,487-501).

The LLM classifier seam is ``classify_pairs_udf`` — a grouped vectorized
stand-in with a deterministic rule (token-Jaccard), the shape a real model
plugs into.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dice_spark.functions.textfns import canonicalize_text

MIN_SIMILARITY_FOR_REINFORCE = 0.7

# TemporalConflictDetector defaults (spi/ConflictDetector.kt:125-139):
# lower-cased predicate names treated as time-evolving facts.
DEFAULT_EVOLVING_PREDICATES = frozenset(
    {"employer", "residence", "status", "role", "location", "title"}
)
CONTRADICTION = "CONTRADICTION"
WORLD_PROGRESSION = "WORLD_PROGRESSION"


def conflict_type_expr(
    incoming_predicate,
    existing_predicate,
    incoming_recency,
    existing_recency,
    evolving_predicates=None,
):
    """TemporalConflictDetector.detect as a column expression
    (spi/ConflictDetector.kt:96-130): CONTRADICTION unless the predicate —
    incoming's, falling back to existing's (:99-103) — is a tracked evolving
    fact AND the incoming proposition is not strictly older; equal recency is
    deliberately WORLD_PROGRESSION (:106-112, neither strictly supersedes).

    Recency is the caller's coalesce of observed_at ?? valid_from ??
    content_revised (:124-127). Divergence from the reference, documented:
    there contentRevised always exists so recency is total; our store may
    carry no temporal anchor at all, and a NULL recency on either side
    classifies conservatively as CONTRADICTION (the detector cannot establish
    progression without an anchor).
    """
    evolving = sorted(
        p.lower() for p in (evolving_predicates or DEFAULT_EVOLVING_PREDICATES)
    )
    pred = F.lower(F.coalesce(incoming_predicate, existing_predicate))
    return (
        F.when(pred.isNull() | ~pred.isin(evolving), CONTRADICTION)
        .when(incoming_recency.isNull() | existing_recency.isNull(), CONTRADICTION)
        .when(incoming_recency < existing_recency, CONTRADICTION)
        .otherwise(WORLD_PROGRESSION)
    )


def _recency_of(alias: str, df: DataFrame):
    """observed_at ?? valid_from ?? content_revised over whichever of those
    columns ``df`` carries (ConflictDetector.kt:124-127); NULL when none."""
    cols = [
        F.col(f"{alias}.{c}")
        for c in ("observed_at", "valid_from", "content_revised")
        if c in df.columns
    ]
    return F.coalesce(*cols) if cols else F.lit(None).cast("timestamp")


def merge_arithmetic(c_old, c_new, d_old):
    conf = F.least(c_old + F.lit(0.3) * c_new, F.lit(0.99))
    dec = F.greatest(d_old * F.lit(0.7), F.lit(0.0))
    return conf, dec


def contradict_arithmetic(c_old, d_old):
    conf = F.greatest(c_old * F.lit(0.3), F.lit(0.05))
    dec = F.least(d_old + F.lit(0.15), F.lit(1.0))
    return conf, dec


def revise(
    existing: DataFrame,
    incoming: DataFrame,
    classified_pairs: DataFrame | None = None,
    temporal_conflicts: bool = False,
    evolving_predicates=None,
) -> DataFrame:
    """Apply revision to the ``existing`` store given an ``incoming`` batch.

    existing/incoming: proposition rows (prop_id, context_id, text, confidence,
    decay, pinned, status, reinforce_count, grounding).

    classified_pairs: optional (existing_id, new_id, relation, similarity)
    from the classifier seam, relation in
    IDENTICAL|SIMILAR|CONTRADICTORY|GENERALIZES|UNRELATED
    (revision/PropositionReviser.kt:27-42). When None only the canonical-text
    fast path applies.

    Multi-hit semantics: one existing proposition may be hit by several
    incoming propositions in a batch; the reference applies revisions
    sequentially per incoming. The merge/reinforce arithmetic folds exactly
    (the caps are terminal: min(c + r*a + r*b, cap) equals the two-step
    sequential result), so same-branch hits aggregate per existing prop_id —
    conf' = min(c + r*Σc_new, cap), decay' = d*rate^n, reinforce_count + n,
    groundings unioned (capped at MAX_GROUNDING smallest). Across branches
    one deterministic winner survives per existing, in classifiedToResult
    priority (LlmPropositionReviser.kt:478-509): identical-merge, then
    contradiction, then reinforce — so the warehouse MERGE on prop_id never
    sees duplicate keys.

    temporal_conflicts=True wires the TemporalConflictDetector
    (spi/ConflictDetector.kt:96-130) into the contradiction branch: a
    CONTRADICTORY pair whose predicate is evolving and whose incoming side is
    not strictly older is WORLD_PROGRESSION — the world moved on, so the
    existing row retires to SUPERSEDED with its confidence/decay INTACT
    (outcome WORLD_PROGRESSION) instead of taking contradiction damage; the
    incoming row stays a NEW ACTIVE fact. If any pair against an existing is
    a genuine CONTRADICTION it wins over progression (the detector's
    conservative default). Pinned existings are immune either way (REVIEW).
    In the reference the detector only labels RevisionResult.Contradicted
    (LlmPropositionReviser.kt:540-548) — supersession is this engine's batch
    consumption of that label. Default False = AlwaysContradictionDetector.

    Returns the revised store: updated existing rows + genuinely-new incoming
    rows, plus a ``revision_outcome`` column (MERGED|REINFORCED|CONTRADICTED|
    WORLD_PROGRESSION|NEW|UNCHANGED|REVIEW).
    """
    from dice_spark.operators.extraction import MAX_GROUNDING
    ex = existing.withColumn("canon", canonicalize_text("text")).alias("ex")
    # In-batch canonical dedup first (reviseAll step 1, :240-250). Lazily
    # checkpointed: the fast path, every classified branch, the temporal
    # metadata lookup and the NEW-rows tail all re-read it — one window pass
    # instead of one per consumer.
    inc = (
        incoming.withColumn("canon", canonicalize_text("text"))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("context_id", "canon").orderBy("prop_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
        .alias("inc")
    )

    # Fast path: exact canonical-text match vs ACTIVE existing -> Merged.
    merged = (
        ex.filter(F.col("ex.status") == "ACTIVE")
        .join(inc, (F.col("ex.context_id") == F.col("inc.context_id")) & (F.col("ex.canon") == F.col("inc.canon")))
    )
    m_conf, m_dec = merge_arithmetic(F.col("ex.confidence"), F.col("inc.confidence"), F.col("ex.decay"))
    merged_rows = merged.select(
        F.col("ex.prop_id").alias("prop_id"),
        F.col("ex.context_id").alias("context_id"),
        F.col("ex.text").alias("text"),
        F.round(m_conf, 6).alias("confidence"),
        F.round(m_dec, 6).alias("decay"),
        F.col("ex.pinned").alias("pinned"),
        F.col("ex.status").alias("status"),
        (F.col("ex.reinforce_count") + 1).alias("reinforce_count"),
        F.array_sort(F.array_distinct(F.array_union(F.col("ex.grounding"), F.col("inc.grounding")))).alias("grounding"),
        F.lit("MERGED").alias("revision_outcome"),
    )
    merged_ex_ids = merged.select(F.col("ex.prop_id").alias("prop_id"))
    merged_inc_ids = merged.select(F.col("inc.prop_id").alias("prop_id"))

    rest_inc = inc.join(merged_inc_ids, "prop_id", "left_anti").alias("inc")
    rest_ex = ex.join(merged_ex_ids, "prop_id", "left_anti").alias("ex")

    if classified_pairs is not None:
        # The classifier seam output is read by every branch below (identical
        # merge, reinforce, contradiction, generalization, and their
        # anti-join guards). Left lazy, the WHOLE upstream — candidate pair
        # generation + the Arrow classification seam — re-executes once per
        # branch (~5x, the dominant cost of revise_batch at bench scale).
        # One lazy checkpoint materializes the (existing_id, new_id,
        # relation, similarity) rows once.
        cls = classified_pairs.localCheckpoint(eager=False).alias("cls")
        # IDENTICAL classifications merge, and per new proposition identical
        # outranks contradictory outranks similar (classifiedToResult,
        # LlmPropositionReviser.kt:478-509: `find` identical first). One merge
        # per new prop — the reference's first-found candidate made
        # deterministic as min existing_id.
        ident_one = (
            cls.filter(F.col("relation") == "IDENTICAL")
            .withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy("new_id").orderBy("existing_id")),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .alias("cls")
        )
        ident_new_ids = ident_one.select(F.col("new_id"))
        im = rest_ex.join(ident_one, F.col("ex.prop_id") == F.col("cls.existing_id")).join(
            rest_inc, F.col("inc.prop_id") == F.col("cls.new_id")
        )

        def _fold(joined, rate: float, cap: float, decay_rate: float, outcome: str, rank: int):
            # Same-branch multi-hit fold per existing prop_id — exactly the
            # sequential reference arithmetic (caps are terminal, see
            # docstring). _rank/_hit drive the cross-branch collapse below.
            g = joined.groupBy(F.col("ex.prop_id").alias("prop_id")).agg(
                F.first("ex.context_id").alias("context_id"),
                F.first("ex.text").alias("text"),
                F.first("ex.confidence").alias("_c"),
                F.first("ex.decay").alias("_d"),
                F.first("ex.pinned").alias("pinned"),
                F.first("ex.status").alias("status"),
                F.first("ex.reinforce_count").alias("_rc"),
                F.first("ex.grounding").alias("_g_ex"),
                F.sum("inc.confidence").alias("_c_sum"),
                F.count(F.lit(1)).alias("_n"),
                F.min("inc.prop_id").alias("_hit"),
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("inc.grounding")))
                ).alias("_g_inc"),
            )
            conf = F.least(F.col("_c") + F.lit(rate) * F.col("_c_sum"), F.lit(cap))
            dec = F.greatest(F.col("_d") * F.pow(F.lit(decay_rate), F.col("_n")), F.lit(0.0))
            return g.select(
                "prop_id",
                "context_id",
                "text",
                F.round(conf, 6).alias("confidence"),
                F.round(dec, 6).alias("decay"),
                "pinned",
                "status",
                (F.col("_rc") + F.col("_n")).cast("int").alias("reinforce_count"),
                F.slice(
                    F.array_sort(F.array_distinct(F.array_union("_g_ex", "_g_inc"))),
                    1,
                    MAX_GROUNDING,
                ).alias("grounding"),
                F.lit(outcome).alias("revision_outcome"),
                F.lit(rank).alias("_rank"),
                F.col("_hit"),
            )

        ident_rows = _fold(im, 0.3, 0.99, 0.7, "MERGED", rank=1)
        # GENERALIZES (classifiedToResult priority: identical > contradictory
        # > generalizes > similar, LlmPropositionReviser.kt:484-558): an
        # incoming abstraction is stored as-is with outcome GENERALIZED, the
        # covered existing rows stay untouched, and the incoming never
        # reinforces (generalization is not a conflict and not evidence).
        generalized_inc = (
            cls.filter(F.col("relation") == "GENERALIZES")
            .select("new_id")
            .distinct()
            .join(ident_new_ids, "new_id", "left_anti")
            .join(
                cls.filter(F.col("relation") == "CONTRADICTORY").select("new_id").distinct(),
                "new_id",
                "left_anti",
            )
            .withColumnRenamed("new_id", "prop_id")
        )
        # SIMILAR below the floor is treated UNRELATED (:85,487-501).
        reinforce = (
            cls.filter(
                (F.col("relation") == "SIMILAR") & (F.col("similarity") >= MIN_SIMILARITY_FOR_REINFORCE)
            )
            .join(ident_new_ids, "new_id", "left_anti")
            .join(
                generalized_inc.withColumnRenamed("prop_id", "new_id"), "new_id", "left_anti"
            )
        )
        contradict = cls.filter(F.col("relation") == "CONTRADICTORY").join(
            ident_new_ids, "new_id", "left_anti"
        )

        r = rest_ex.join(reinforce, F.col("ex.prop_id") == F.col("cls.existing_id")).join(
            rest_inc, F.col("inc.prop_id") == F.col("cls.new_id")
        )
        reinforced_rows = _fold(r, 0.1, 0.95, 0.85, "REINFORCED", rank=3)

        c = rest_ex.join(contradict, F.col("ex.prop_id") == F.col("cls.existing_id"))
        if temporal_conflicts:
            inc_pred = (
                F.col("inc.predicate")
                if "predicate" in incoming.columns
                else F.lit(None).cast("string")
            )
            # From the full deduped batch, not rest_inc: contradiction pairs
            # are not filtered to post-merge survivors (mirroring the oracle),
            # so their metadata must not vanish when the new prop merged.
            inc_meta = inc.select(
                F.col("inc.prop_id").alias("_mi_new_id"),
                inc_pred.alias("_inc_pred"),
                _recency_of("inc", incoming).alias("_inc_rec"),
            )
            ex_pred = (
                F.col("ex.predicate")
                if "predicate" in existing.columns
                else F.lit(None).cast("string")
            )
            ctype = conflict_type_expr(
                F.col("_inc_pred"),
                ex_pred,
                F.col("_inc_rec"),
                _recency_of("ex", existing),
                evolving_predicates,
            )
            c = c.join(inc_meta, F.col("cls.new_id") == F.col("_mi_new_id"), "left")
        else:
            ctype = F.lit(CONTRADICTION)
        # Per existing: ANY genuinely contradictory pair wins over progression
        # (conservative, like the detector's default); all-WP retires cleanly.
        cg = c.withColumn("_ctype", ctype).groupBy(
            F.col("ex.prop_id").alias("prop_id")
        ).agg(
            F.first("ex.context_id").alias("context_id"),
            F.first("ex.text").alias("text"),
            F.first("ex.confidence").alias("_c"),
            F.first("ex.decay").alias("_d"),
            F.first("ex.pinned").alias("pinned"),
            F.first("ex.status").alias("_status"),
            F.first("ex.reinforce_count").alias("reinforce_count"),
            F.first("ex.grounding").alias("grounding"),
            F.max((F.col("_ctype") == CONTRADICTION).cast("int")).alias("_any_contra"),
            F.min(F.col("cls.new_id")).alias("_hit"),
        )
        c_conf, c_dec = contradict_arithmetic(F.col("_c"), F.col("_d"))
        common = ["prop_id", "context_id", "text"]
        tail = ["pinned", "reinforce_count", "grounding"]
        contradicted_rows = cg.filter(~F.col("pinned") & (F.col("_any_contra") == 1)).select(
            *common,
            F.round(c_conf, 6).alias("confidence"),
            F.round(c_dec, 6).alias("decay"),
            *tail[:1],
            F.lit("CONTRADICTED").alias("status"),
            *tail[1:],
            F.lit("CONTRADICTED").alias("revision_outcome"),
            F.lit(2).alias("_rank"),
            F.col("_hit"),
        )
        # World progression: the existing fact was true and the world moved
        # on — retire it SUPERSEDED with confidence/decay intact.
        wp_rows = cg.filter(~F.col("pinned") & (F.col("_any_contra") == 0)).select(
            *common,
            F.col("_c").alias("confidence"),
            F.col("_d").alias("decay"),
            *tail[:1],
            F.lit("SUPERSEDED").alias("status"),
            *tail[1:],
            F.lit(WORLD_PROGRESSION).alias("revision_outcome"),
            F.lit(2).alias("_rank"),
            F.col("_hit"),
        )
        # Pinned originals stay intact, flagged for review (:536-550).
        review_rows = cg.filter(F.col("pinned")).select(
            *common,
            F.col("_c").alias("confidence"),
            F.col("_d").alias("decay"),
            *tail[:1],
            F.col("_status").alias("status"),
            *tail[1:],
            F.lit("REVIEW").alias("revision_outcome"),
            F.lit(2).alias("_rank"),
            F.col("_hit"),
        )
        hit = (
            ident_rows.unionByName(contradicted_rows)
            .unionByName(wp_rows)
            .unionByName(review_rows)
            .unionByName(reinforced_rows)
        )
        # Cross-branch collapse: exactly one surviving revision per existing
        # prop_id, in classifiedToResult priority (identical-merge >
        # contradiction > reinforce), min incoming id as the tiebreak.
        w_hit = Window.partitionBy("prop_id").orderBy("_rank", "_hit")
        hit_one = (
            hit.withColumn("_rn", F.row_number().over(w_hit))
            .filter(F.col("_rn") == 1)
            .drop("_rank", "_hit", "_rn")
        )
        touched = hit.select("prop_id")
        consumed_inc = r.select(F.col("inc.prop_id").alias("prop_id")).unionByName(
            im.select(F.col("inc.prop_id").alias("prop_id"))
        )
        extra = [hit_one]
    else:
        touched = merged_ex_ids.limit(0)
        consumed_inc = merged_inc_ids.limit(0)
        generalized_inc = merged_inc_ids.limit(0)
        extra = []

    untouched_ex = rest_ex.join(touched, "prop_id", "left_anti").select(
        "prop_id", "context_id", "text", "confidence", "decay", "pinned", "status",
        "reinforce_count", "grounding", F.lit("UNCHANGED").alias("revision_outcome"),
    )
    new_rows = (
        rest_inc.join(consumed_inc, "prop_id", "left_anti")
        .join(
            F.broadcast(generalized_inc.withColumn("_gen", F.lit(1))), "prop_id", "left"
        )
        .select(
            "prop_id", "context_id", "text", "confidence", "decay", "pinned", "status",
            "reinforce_count", "grounding",
            F.when(F.col("_gen") == 1, "GENERALIZED").otherwise("NEW").alias("revision_outcome"),
        )
    )
    out = merged_rows
    for df in extra:
        out = out.unionByName(df)
    return out.unionByName(untouched_ex).unionByName(new_rows)


def candidate_pairs_by_overlap(mentions_a: DataFrame, mentions_b: DataFrame) -> DataFrame:
    """Generate candidate (existing_id, new_id) pairs sharing >= 1 entity.

    Resolved-id equality when both sides resolved, case-insensitive span
    equality as the fallback (LlmPropositionReviser.kt:344-363). Two
    equi-joins unioned — hash-partitionable, no OR condition.
    """
    a = mentions_a.select(
        F.col("prop_id").alias("existing_id"), F.lower("span").alias("ka"),
        F.col("resolved_id").alias("rida"),
    )
    b = mentions_b.select(
        F.col("prop_id").alias("new_id"), F.lower("span").alias("kb"),
        F.col("resolved_id").alias("ridb"),
    )
    by_entity = (
        a.filter(F.col("rida").isNotNull())
        .join(b.filter(F.col("ridb").isNotNull()), F.col("rida") == F.col("ridb"))
        .select("existing_id", "new_id")
    )
    by_span = a.join(b, F.col("ka") == F.col("kb")).select("existing_id", "new_id")
    return by_entity.unionByName(by_span).distinct()


def prop_mentions(props: DataFrame) -> DataFrame:
    """(prop_id, span, resolved_id) mention rows from a proposition table.

    Uses resolved subj_id/obj_id columns when present, else null (the span
    fallback carries the prefilter).
    """
    sid = F.col("subj_id") if "subj_id" in props.columns else F.lit(None).cast("string")
    oid = F.col("obj_id") if "obj_id" in props.columns else F.lit(None).cast("string")
    return props.select(
        "prop_id", F.col("subj_span").alias("span"), sid.alias("resolved_id")
    ).unionByName(
        props.select("prop_id", F.col("obj_span").alias("span"), oid.alias("resolved_id"))
    )


# Python's whitespace (str.isspace: every code point lies below U+3001) — what
# the pandas tokenizer's regex \s and str.split() both treat as a separator.
# Java's \s is ASCII-only, so the JVM twin spells the class out.
_PY_WHITESPACE = "".join(
    f"\\x{{{c:x}}}" for c in range(0x3001) if chr(c).isspace()
)


def canon_token_set(text) -> "F.Column":
    """JVM twin of the default classifier's tokenization (classify_pairs_udf):
    lower -> strip [^a-z0-9\\s] -> whitespace split -> distinct, no empties,
    with \\s meaning Python's unicode whitespace on both sides.
    Used to pre-filter the classifier seam's input; identity with the pandas
    path is pinned by tests/test_revision.py."""
    t = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.filter(
            F.split(
                F.regexp_replace(F.lower(t), f"[^a-z0-9{_PY_WHITESPACE}]", ""),
                f"[{_PY_WHITESPACE}]+",
            ),
            lambda w: F.length(w) > 0,
        )
    )


def _seam_prefilter(with_text: DataFrame, detect_generalizes: bool) -> DataFrame:
    """Drop pairs the DEFAULT classifier is guaranteed to label in a way
    ``revise`` ignores, before they cross the Python boundary (guide §4:
    shuffle/ship fewer rows into the seam; same spirit as the reference's
    entity-overlap pre-filter and the vector fast path's candidate floor).

    Sound only for classify_pairs_udf: every consumed label needs token
    Jaccard >= 0.5 (IDENTICAL/SIMILAR/CONTRADICTORY) or, with
    detect_generalizes, a strict token-subset relation — both computable
    exactly as native column expressions over per-side token sets. Kept
    pairs still go through the seam unchanged, so surviving labels and
    similarities are bit-identical; dropped pairs would have classified
    UNRELATED (or sub-floor SIMILAR), which revise() discards either way.
    Callers with a custom (e.g. LLM) classifier never get this filter.
    """
    # Tokenize once per SIDE (proposition cardinality), never per pair:
    # inlining the regexp/split chain into the pair-level expressions would
    # re-evaluate it for every array_intersect/array_union reference — the
    # exact Catalyst projection-collapse trap vector_fast_path documents
    # (measured: per-pair inlining turned this filter into a 4x slowdown).
    # The distinct() exchanges are projection barriers AND shrink the token
    # work to one row per proposition.
    ex_tok = (
        with_text.select("existing_id", "existing_text")
        .distinct()
        .select("existing_id", canon_token_set("existing_text").alias("_ta"))
    )
    new_tok = (
        with_text.select("new_id", "new_text")
        .distinct()
        .select("new_id", canon_token_set("new_text").alias("_tb"))
    )
    pre = with_text.join(ex_tok, "existing_id").join(new_tok, "new_id")
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("double")
    union = F.greatest(F.size(F.array_union("_ta", "_tb")), F.lit(1)).cast("double")
    sim = inter / union
    keep = sim >= F.lit(0.5)
    if detect_generalizes:
        subset = (
            (F.size("_tb") > 0)
            & (inter == F.size("_tb").cast("double"))
            & (F.size("_ta") > F.size("_tb"))
        )
        keep = keep | subset
    return pre.filter(keep).drop("_ta", "_tb")


VECTOR_AUTO_MERGE = 0.95   # LlmPropositionReviser.kt:306-319
VECTOR_CANDIDATE_FLOOR = 0.5  # :320-339 (LSH topK candidates >= 0.5 go to the LLM)
VECTOR_TOP_K = 5


def vector_fast_path(pairs_with_text: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Embedding fast path over candidate pairs
    (LlmPropositionReviser.kt:306-339): cosine >= VECTOR_AUTO_MERGE
    auto-classifies as IDENTICAL (merged without a classifier call); pairs in
    [VECTOR_CANDIDATE_FLOOR, auto) are kept — at most VECTOR_TOP_K per
    incoming proposition, best-first — for the classifier; everything below
    the floor is dropped before any expensive classification.

    The embedding is the deterministic letter-count stand-in
    (linking.char_embedding over canonicalized text); a real embedding column
    swaps in without changing the dataflow. Returns (auto_identical,
    to_classify) — both subsets of the input pairs.
    """
    from pyspark.sql.window import Window

    from dice_spark.operators.dedup import cosine_expr
    from dice_spark.operators.linking import char_embedding

    # Materialize the embeddings BEHIND a plan barrier before the cosine:
    # cosine_expr references each array several times (dot + both norms), and
    # without the barrier Catalyst re-inlines the full 26-element
    # embedding-over-canonicalized-text tree into every reference —
    # ~150 regex chains per row (measured 58s vs <1s on 46k pairs).
    with_emb = (
        pairs_with_text.withColumn(
            "_ea", char_embedding(canonicalize_text("existing_text"))
        )
        .withColumn("_eb", char_embedding(canonicalize_text("new_text")))
        .localCheckpoint(eager=True)
    )
    scored = with_emb.withColumn(
        "_cos", F.round(cosine_expr(F.col("_ea"), F.col("_eb")), 6)
    ).drop("_ea", "_eb")
    auto = (
        scored.filter(F.col("_cos") >= VECTOR_AUTO_MERGE)
        .withColumn("relation", F.lit("IDENTICAL"))
        .withColumnRenamed("_cos", "similarity")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("_cos"), F.asc("existing_id"))
    to_classify = (
        scored.filter((F.col("_cos") >= VECTOR_CANDIDATE_FLOOR) & (F.col("_cos") < VECTOR_AUTO_MERGE))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= VECTOR_TOP_K)
        .drop("_rn", "_cos")
    )
    return auto, to_classify


def revise_batch(
    existing: DataFrame,
    incoming: DataFrame,
    mentions_existing: DataFrame | None = None,
    mentions_incoming: DataFrame | None = None,
    classifier=None,
    use_vector_fast_path: bool = False,
    temporal_conflicts: bool = False,
    evolving_predicates=None,
    additional_grounding: list[str] | None = None,
    detect_generalizes: bool = False,
) -> DataFrame:
    """The full revision stage: candidates -> classify seam -> revise.

    Mirrors the reference write path (PropositionPipeline.kt:254-281: every
    store write revises against existing propositions): entity-overlap
    candidate generation, optionally the embedding fast path
    (``use_vector_fast_path`` — auto-merge at cosine >= 0.95, top-5
    candidates >= 0.5 to the classifier, rest dropped), the batched
    classification UDF, then the merge/reinforce/contradict arithmetic of
    ``revise``. IDENTICAL pairs from the fast path reinforce like
    high-similarity SIMILAR pairs would merge — the reviser's auto-merge.
    """
    if additional_grounding:
        # rememberText enrichment (AdditionalGroundingTest.kt): the INCOMING
        # side gains the extra source ids, so New/Merged/Reinforced outputs
        # and a Contradicted pair's new proposition carry them while the
        # pre-existing originals keep their own provenance.
        from dice_spark.operators.provenance import with_additional_grounding

        incoming = with_additional_grounding(incoming, additional_grounding)
    mentions_existing = mentions_existing if mentions_existing is not None else prop_mentions(existing)
    mentions_incoming = mentions_incoming if mentions_incoming is not None else prop_mentions(incoming)

    if classifier is None and not use_vector_fast_path:
        # Default-classifier fast shape: enrich the MENTION sides with text +
        # token set (proposition cardinality — the join to the mention
        # relation is the projection barrier), generate both overlap joins,
        # and apply the seam prefilter INLINE on the join output stream —
        # before the pair-level distinct or any other exchange ever sees the
        # raw pair volume. Semantically identical to
        # candidate_pairs_by_overlap + text joins + prefilter (same keep
        # rule, same dedup key: a pair's texts are functionally determined
        # by its ids), but pair-level work collapses from four 1.7M-row
        # joins + a 1.7M-row distinct to one streamed filter (~0.3M rows
        # survive at sf0.1).
        ex_side = existing.select(
            F.col("prop_id").alias("existing_id"),
            F.col("text").alias("existing_text"),
            canon_token_set("text").alias("_ta"),
        )
        inc_side = incoming.select(
            F.col("prop_id").alias("new_id"),
            F.col("text").alias("new_text"),
            canon_token_set("text").alias("_tb"),
        )
        a = mentions_existing.select(
            F.col("prop_id").alias("existing_id"),
            F.lower("span").alias("ka"),
            F.col("resolved_id").alias("rida"),
        ).join(ex_side, "existing_id")
        b = mentions_incoming.select(
            F.col("prop_id").alias("new_id"),
            F.lower("span").alias("kb"),
            F.col("resolved_id").alias("ridb"),
        ).join(inc_side, "new_id")
        by_entity = a.filter(F.col("rida").isNotNull()).join(
            b.filter(F.col("ridb").isNotNull()), F.col("rida") == F.col("ridb")
        )
        by_span = a.join(b, F.col("ka") == F.col("kb"))
        cols = ["existing_id", "new_id", "existing_text", "new_text", "_ta", "_tb"]
        raw = by_entity.select(*cols).unionByName(by_span.select(*cols))
        inter = F.size(F.array_intersect("_ta", "_tb")).cast("double")
        union = F.greatest(F.size(F.array_union("_ta", "_tb")), F.lit(1)).cast("double")
        keep = (inter / union) >= F.lit(0.5)
        if detect_generalizes:
            keep = keep | (
                (F.size("_tb") > 0)
                & (inter == F.size("_tb").cast("double"))
                & (F.size("_ta") > F.size("_tb"))
            )
        pre = (
            raw.filter(keep)
            .select("existing_id", "new_id", "existing_text", "new_text")
            .distinct()
        )
        classified = classify_pairs_udf(pre, detect_generalizes=detect_generalizes)
        return revise(
            existing,
            incoming,
            classified,
            temporal_conflicts=temporal_conflicts,
            evolving_predicates=evolving_predicates,
        )

    pairs = candidate_pairs_by_overlap(mentions_existing, mentions_incoming)
    with_text = pairs.join(
        existing.select(F.col("prop_id").alias("existing_id"), F.col("text").alias("existing_text")),
        "existing_id",
    ).join(
        incoming.select(F.col("prop_id").alias("new_id"), F.col("text").alias("new_text")),
        "new_id",
    )
    # detect_generalizes turns on the default classifier's GENERALIZES rule
    # (strict token subset, no negation flip). Default OFF, matching the
    # reference: the prompt-driven reviser only labels GENERALIZES when the
    # caller's prompt asks for abstraction handling, and the deterministic
    # subset rule has a real false-positive mode on elided detail ("Alice
    # likes apples" generalizes "Alice likes red apples" textually even when
    # the shorter sentence is just a terser repeat that should REINFORCE).
    # See tests/test_revision.py::test_generalizes_default_on_golden_batch.
    if classifier is None:
        # Default deterministic classifier: its consumed labels all imply
        # token Jaccard >= 0.5 (or a strict subset with detect_generalizes),
        # so the JVM-side prefilter can drop guaranteed-ignored pairs before
        # the Arrow seam without changing any surviving value.
        _dg = detect_generalizes

        def classifier(p):  # noqa: E731 - tiny wrapper, keeps the seam shape
            return classify_pairs_udf(_seam_prefilter(p, _dg), detect_generalizes=_dg)
    if use_vector_fast_path:
        auto, to_classify = vector_fast_path(with_text)
        classified = classifier(to_classify).unionByName(
            # auto-identical pairs merge without a classifier call: surface
            # them as SIMILAR at their cosine so revise() reinforces them.
            auto.select(
                "existing_id", "new_id",
                F.lit("SIMILAR").alias("relation"),
                F.col("similarity"),
            )
        )
    else:
        classified = classifier(with_text)
    return revise(
        existing,
        incoming,
        classified,
        temporal_conflicts=temporal_conflicts,
        evolving_predicates=evolving_predicates,
    )


def classify_pairs_udf(
    pairs_with_text: DataFrame, detect_generalizes: bool = False
) -> DataFrame:
    """The batched classification UDF seam (classifyBatch, :372-456).

    Input rows: (existing_id, new_id, existing_text, new_text). Deterministic
    stand-in classifier: canonical-token Jaccard -> IDENTICAL (=1.0) /
    SIMILAR (>=0.5) / CONTRADICTORY (negation mismatch) / UNRELATED. A real
    LLM classifier replaces the body; the seam (grouped Arrow batches,
    integer-indexed pairs) is the engine contract.

    ``detect_generalizes=True`` adds the GENERALIZES label
    (PropositionRelation.GENERALIZES, :658): the new text's token set is a
    strict nonempty subset of the existing's (less specific = covers it),
    with no negation mismatch and below the identical bar. Identical and
    contradictory still outrank it; off by default so the rule is an
    explicit opt-in like the reference's prompt-driven label.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if len(pdf) == 0:
                continue

            def canon_tokens(s: "pd.Series") -> "pd.Series":
                return (
                    s.str.lower()
                    .str.replace(r"[^a-z0-9\s]", "", regex=True)
                    .str.split()
                    .map(frozenset)
                )

            ta = canon_tokens(pdf["existing_text"])
            tb = canon_tokens(pdf["new_text"])
            inter = [len(x & y) for x, y in zip(ta, tb)]
            union = [max(len(x | y), 1) for x, y in zip(ta, tb)]
            sim = pd.Series([i / u for i, u in zip(inter, union)], index=pdf.index)
            neg_a = pdf["existing_text"].str.lower().str.contains(r"\b(?:not|never|no longer)\b", regex=True)
            neg_b = pdf["new_text"].str.lower().str.contains(r"\b(?:not|never|no longer)\b", regex=True)
            relation = pd.Series("UNRELATED", index=pdf.index)
            relation[(sim >= 0.5)] = "SIMILAR"
            if detect_generalizes:
                subset = pd.Series(
                    [len(y) > 0 and y < x for x, y in zip(ta, tb)], index=pdf.index
                )
                relation[subset & (sim < 0.999) & ~(neg_a != neg_b)] = "GENERALIZES"
            relation[(sim >= 0.999)] = "IDENTICAL"
            relation[(sim >= 0.5) & (neg_a != neg_b)] = "CONTRADICTORY"
            out = pdf[["existing_id", "new_id"]].copy()
            out["relation"] = relation
            out["similarity"] = sim.round(6)
            yield out

    return pairs_with_text.mapInPandas(
        run, schema="existing_id string, new_id string, relation string, similarity double"
    )
