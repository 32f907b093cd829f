"""Schema-guided deterministic triple extraction.

The reference's extraction stage is an LLM prompt (LlmPropositionExtractor,
/root/reference/dice/.../proposition/extraction/LlmPropositionExtractor.kt:233-265);
its deterministic test stand-in pins propositions (FixedPropositionExtractor,
dice-integration-tests/.../FixedPropositionExtractor.kt:41-67) and predicate
matching is case-insensitive substring against the declared relation
vocabulary, first declared match wins (RelationBasedGraphProjector.kt:292-325).

This module implements that deterministic semantic once, as
``extract_triples_udf``: the vectorized pandas/Arrow ``mapInPandas`` seam
demanded by the north rule — batched mention detection + relation
classification per partition, no per-row Python (pandas C-level str ops, one
substring pass per relation in priority order). This is where a real
LLM/model extractor plugs in. Its reference is the DuckDB oracle: the
``extraction`` and ``extraction_perspective`` queries of ``__spark_entry__``
recompute the same rows in SQL (tools/selfcheck.py).

Scale notes: the role scope and column pruning run JVM-side before the seam;
the sentence explode is inside it; nothing shuffles until the downstream
proposition groupBy. The UDF receives Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch) per partition.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dice_spark.synth import ORGS, RELATIONS

# Cap on per-proposition grounding/source id lists (rank-before-collect).
MAX_GROUNDING = 100

# ExtractionPerspective (LlmPropositionExtractor.kt:46-56): whose facts the
# extractor keeps when the input is a user/assistant dialogue. The reference
# states it as prompt guidance; the deterministic translation is a role scope
# over turns — a pure column predicate, so Catalyst pushes it below the
# sentence explode and the non-selected roles never reach the extractor.
PERSPECTIVE_ROLES = {"ALL": None, "USER": ("user",), "AGENT": ("assistant",)}


def scope_to_perspective(turns: DataFrame, perspective: str = "ALL") -> DataFrame:
    """Filter turn rows to the perspective's speaker roles (ALL is identity)."""
    try:
        roles = PERSPECTIVE_ROLES[perspective]
    except KeyError:
        raise ValueError(
            f"unknown extraction perspective {perspective!r}; "
            f"one of {sorted(PERSPECTIVE_ROLES)}"
        ) from None
    if roles is None:
        return turns
    return turns.filter(F.lower(F.col("role")).isin(*roles))

# Temporal-metadata stand-in anchor: 2026-01-01T00:00:00Z (epoch seconds).
TEMPORAL_BASE_EPOCH = 1_767_225_600


def temporal_metadata_exprs(sentence, predicate) -> dict[str, "F.Column"]:
    """Deterministic temporal-extraction stand-in (TemporalMetadata.kt:46-53).

    The reference attaches TemporalMetadata only when the extractor knows it
    — every field optional, most facts carry none. The LLM seam would emit
    these; the deterministic rule is schema-guided by predicate:

    * ``founded``        -> DATED with a CLOSED window (a completed
      historical fact): valid_from = base + (h % 365) days,
      valid_to = valid_from + (30 + h % 300) days. Closed windows never
      decay (Proposition.kt:336-338).
    * ``is employed by`` -> DATED OPEN ("since X, still?"): valid_from only;
      decays from valid_from.
    * anything else      -> no temporal metadata (nulls; decays from the
      content_revised anchor).

    h = first 6 md5 hex chars of the sentence — portable to DuckDB
    (('0x' || substr(md5(text),1,6))::bigint), so the oracle recomputes the
    exact instants. invalidated_at is NEVER set here: only an explicit
    retraction writes it (TemporalMetadata.kt:36-38).
    """
    s = F.col(sentence) if isinstance(sentence, str) else sentence
    p = F.col(predicate) if isinstance(predicate, str) else predicate
    h = F.conv(F.substring(F.md5(s), 1, 6), 16, 10).cast("long")
    vf_epoch = F.lit(TEMPORAL_BASE_EPOCH) + (h % 365) * 86400
    vt_epoch = vf_epoch + (30 + h % 300) * 86400
    dated = p.isin("founded", "is employed by")
    closed = p == F.lit("founded")
    return {
        "valid_from": F.when(dated, F.timestamp_seconds(vf_epoch)),
        "valid_to": F.when(closed, F.timestamp_seconds(vt_epoch)),
        "invalidated_at": F.lit(None).cast("timestamp"),
    }

# Output schema of the extractor (one row per extracted triple candidate).
TRIPLES_SCHEMA = (
    "chunk_id string, conv_id string, turn_idx int, sentence string, "
    "predicate string, priority int, subj_span string, obj_span string, "
    "subj_type string, obj_type string, confidence double, decay double"
)

# Split after a sentence-final period — but never after a single-initial
# ("Q.") or title ("Dr.") abbreviation, which would decapitate names.
_SENTENCE_SPLIT = r"(?<=\.)(?<![A-Z]\.)(?<!\bDr\.)(?<!\bMr\.)(?<!\bMs\.)(?<!\bMrs\.)(?<!\bProf\.)\s+"


def extract_triples_udf(
    turns: DataFrame,
    conf_overrides: dict | None = None,
    perspective: str = "ALL",
) -> DataFrame:
    """Vectorized mapInPandas extractor: turn rows -> TRIPLES_SCHEMA rows.

    ``conf_overrides`` optionally pins (confidence, decay) per exact sentence
    text (the FixedPropositionExtractor pattern used by the golden fixtures).
    Per Arrow batch: explode sentences, then one vectorized substring pass per
    relation in priority order (first match wins). All pandas C-level ops.
    The ``perspective`` role scope is applied as a column predicate BEFORE the
    seam so the filter stays JVM-side and prunes Arrow transfer.
    """
    import pandas as pd

    # Role is only needed for the perspective predicate (JVM-side); project to
    # the four columns the seam reads so nothing else crosses the Arrow
    # boundary (opaque functions defeat Catalyst's column pruning — guide §4).
    turns = scope_to_perspective(turns, perspective).select(
        "chunk_id", "conv_id", "turn_idx", "text"
    )

    overrides = dict(conf_overrides or {})
    relations = list(RELATIONS)
    orgs = set(ORGS)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = pdf[["chunk_id", "conv_id", "turn_idx", "text"]].copy()
            s["sentence"] = s["text"].str.split(_SENTENCE_SPLIT, regex=True)
            s = s.explode("sentence", ignore_index=True)
            s = s[s["sentence"].str.strip().str.len() > 0]
            if len(s) == 0:
                continue
            low = s["sentence"].str.lower()
            s["predicate"] = None
            s["priority"] = -1
            s["subj_span"] = None
            s["obj_span"] = None
            unmatched = pd.Series(True, index=s.index)
            for prio, (pred, _st, _ot) in enumerate(relations):
                if not unmatched.any():
                    break
                # substring detection via str.find (C fast path); span split
                # by direct slicing on the hit rows only — ~10x cheaper than
                # a lazy-group regex per relation at 10^7 sentences/batch set.
                pos = low.loc[unmatched].str.find(pred)
                idx = pos.index[pos >= 0]
                if len(idx) == 0:
                    continue
                plen = len(pred)
                subs, objs = [], []
                for sent, p in zip(s.loc[idx, "sentence"], pos.loc[idx]):
                    subs.append(sent[:p].strip())
                    tail = sent[p + plen :].strip()
                    if tail.endswith("."):
                        tail = tail[:-1].strip()
                    objs.append(tail)
                s.loc[idx, "predicate"] = pred
                s.loc[idx, "priority"] = prio
                s.loc[idx, "subj_span"] = subs
                s.loc[idx, "obj_span"] = objs
                unmatched.loc[idx] = False
            s = s[~unmatched]
            if len(s) == 0:
                continue

            def etype(col: "pd.Series") -> "pd.Series":
                t = pd.Series("Person", index=col.index)
                t[col.isin(orgs)] = "Org"
                t[col.str.startswith("Project ", na=False)] = "Project"
                return t

            s["subj_type"] = etype(s["subj_span"])
            s["obj_type"] = etype(s["obj_span"])
            s["confidence"] = 0.5 + (s["sentence"].str.len() % 50) / 100.0
            s["decay"] = (s["subj_span"].str.len() % 10) / 10.0
            if overrides:
                for text, (c, d) in overrides.items():
                    m = s["sentence"] == text
                    s.loc[m, "confidence"] = float(c)
                    s.loc[m, "decay"] = float(d)
            s["priority"] = s["priority"].astype("int32")
            s["turn_idx"] = s["turn_idx"].astype("int32")
            yield s[
                [
                    "chunk_id", "conv_id", "turn_idx", "sentence", "predicate",
                    "priority", "subj_span", "obj_span", "subj_type", "obj_type",
                    "confidence", "decay",
                ]
            ]

    return turns.mapInPandas(run, schema=TRIPLES_SCHEMA)


def triples_to_propositions(triples: DataFrame, context_id: str) -> DataFrame:
    """Triple rows -> deduplicated propositions with mention arrays.

    Exact-text dedup per context matches the store's (contextId, text)
    uniqueness constraint (DrivinePropositionRepository.kt:90-130): repeated
    extractions of the same sentence merge — grounding unioned, reinforce_count
    incremented per extra occurrence, confidence boosted by the merge rule
    min(c + 0.3*c_new, 0.99) applied per duplicate (LlmPropositionReviser
    mergePropositions, revision/LlmPropositionReviser.kt:666-684).
    """
    from pyspark.sql.window import Window

    ctx = F.lit(context_id)
    # Grounding/source arrays are capped at the MAX_GROUNDING smallest ids
    # (rank-before-collect; the window shares the groupBy clustering so the
    # cap adds no shuffle): a boilerplate sentence in a 100 TB corpus grounds
    # in millions of chunks, and an unbounded collect_set would turn one
    # proposition row into megabytes that every downstream shuffle re-copies.
    # occurrences / merge arithmetic stay exact — only the id lists truncate.
    # All three window specs share partitionBy("sentence") so Spark plans ONE
    # exchange (re-sorted per ordering, map-side) and the groupBy below reuses
    # the same clustering — the whole dedup is a single shuffle. first-row-of-
    # conversation is detected with lag() on the (conv_id, chunk_id) sort
    # instead of a second row_number over (sentence, conv_id), which would
    # force a second exchange on the wider key.
    g_rn = F.row_number().over(Window.partitionBy("sentence").orderBy("chunk_id"))
    w_conv = Window.partitionBy("sentence").orderBy("conv_id", "chunk_id")
    first_of_conv = F.coalesce(
        F.lag("conv_id").over(w_conv) != F.col("conv_id"), F.lit(True)
    )
    conv_rank = F.dense_rank().over(Window.partitionBy("sentence").orderBy("conv_id"))
    t = triples.withColumn("_g", g_rn).withColumn(
        "_s", F.when(first_of_conv, conv_rank)
    )
    base = t.groupBy("sentence").agg(
        F.first("predicate").alias("predicate"),
        F.first("subj_span").alias("subj_span"),
        F.first("obj_span").alias("obj_span"),
        F.first("subj_type").alias("subj_type"),
        F.first("obj_type").alias("obj_type"),
        F.first("confidence").alias("base_confidence"),
        F.first("decay").alias("base_decay"),
        F.count(F.lit(1)).alias("occurrences"),
        F.array_sort(
            F.collect_set(F.when(F.col("_g") <= MAX_GROUNDING, F.col("chunk_id")))
        ).alias("grounding"),
        F.array_sort(
            F.collect_set(F.when(F.col("_s") <= MAX_GROUNDING, F.col("conv_id")))
        ).alias("source_ids"),
    )
    # n-1 merges: conf' = min(c * (1 + 0.3*(n-1)), 0.99); decay' = d * 0.7^(n-1)
    n = F.col("occurrences").cast("double")
    conf = F.least(
        F.col("base_confidence") * (F.lit(1.0) + F.lit(0.3) * (n - 1)), F.lit(0.99)
    )
    dec = F.col("base_decay") * F.pow(F.lit(0.7), n - 1)
    temporal = temporal_metadata_exprs("sentence", "predicate")
    return base.select(
        F.md5(F.concat_ws("|", ctx, F.col("sentence"))).alias("prop_id"),
        ctx.alias("context_id"),
        F.col("sentence").alias("text"),
        "predicate",
        "subj_span",
        "obj_span",
        "subj_type",
        "obj_type",
        F.round(conf, 6).alias("confidence"),
        F.round(dec, 6).alias("decay"),
        (F.col("occurrences") - 1).cast("int").alias("reinforce_count"),
        # Un-rounded per-occurrence values: the streaming sink's cross-batch
        # reinforcement fold recomputes confidence/decay from these with the
        # SAME formula over the combined occurrence count, so incremental
        # merges are bit-identical to a single batch run (the rounded outputs
        # above are not invertible once the 0.99 cap binds).
        F.col("base_confidence"),
        F.col("base_decay"),
        "grounding",
        "source_ids",
        F.lit("ACTIVE").alias("status"),
        F.lit(0).alias("level"),
        F.lit(False).alias("pinned"),
        temporal["valid_from"].alias("valid_from"),
        temporal["valid_to"].alias("valid_to"),
        temporal["invalidated_at"].alias("invalidated_at"),
    )
