"""End-to-end KG-construction pipeline: transcripts -> entities + edges + lineage.

Stage graph (each an idiomatic DataFrame transform; reference lifecycle in
SURVEY.md §3.1):

  transcripts
    -> assemble_windows        (one shuffle on conv_id)
    -> [anti-join processed_chunks checkpoint]         (resume)
    -> split_turns -> extract  (broadcast relations / mapInPandas seam)
    -> gated_vocabulary -> canonicalize (mention gate, blocking joins + CC)
    -> propositions (exact-text dedup/merge per context) -> resolve_ids
    -> classify_projection -> edges + projection_records (lineage)

The named stages (extract, triple_mentions, gated_vocabulary, canonicalize,
resolve_ids) are the one composition shared by the batch pipeline, the
entity-only variant, the streaming sink and the driver queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dice_spark.functions.normalize import norm_key
from dice_spark.operators import mention_filter
from dice_spark.operators.assembly import assemble_windows, split_turns, windowed_turns
from dice_spark.operators.canonicalize import canonicalize_mentions
from dice_spark.operators.extraction import (
    extract_triples,
    extract_triples_udf,
    triples_to_propositions,
)
from dice_spark.operators.projection import (
    DEFAULT_MIN_CONFIDENCE,
    classify_projection,
    project_edges,
    projection_records,
)
from dice_spark.synth import relations_df


def extract(
    turns: DataFrame,
    relations: DataFrame,
    conf_overrides: dict | None = None,
    use_udf_extractor: bool = True,
    perspective: str = "ALL",
) -> DataFrame:
    """Turns -> triples through the mapInPandas extractor seam, or the
    broadcast-relations join when ``use_udf_extractor`` is False."""
    if use_udf_extractor:
        return extract_triples_udf(turns, conf_overrides, perspective=perspective)
    return extract_triples(turns, relations, conf_overrides, perspective=perspective)


def triple_mentions(triples: DataFrame) -> DataFrame:
    """Every subject and object mention of the extracted triples, one
    (span, entity_type) row per occurrence."""
    return triples.select(
        F.col("subj_span").alias("span"), F.col("subj_type").alias("entity_type")
    ).unionByName(
        triples.select(F.col("obj_span").alias("span"), F.col("obj_type").alias("entity_type"))
    )


def gated_vocabulary(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Mentions -> (counted valid vocabulary, rejected vocabulary).

    Mention quality gate (MentionFilter/MentionValidationRule): junk spans
    (blank, vague demonstratives, over-long) never become entities. The gate
    depends only on the span text, so it runs on the counted VOCABULARY (one
    corpus aggregation first) — value-identical to filtering every
    occurrence, but the rule when-chain is vocabulary-sized work instead of
    corpus-sized (the dominant fixed cost of the canonicalization block at 8M
    turns, measured ~5.7s/pass at local[8]).
    """
    counted = triple_mentions(triples).groupBy("span", "entity_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # Looked up on the module at call time (as are this module's own stage
    # globals), so a wrapper installed on either — perfbench's traced layers —
    # sees every call.
    return mention_filter.filter_mention_groups(counted)


def canonicalize(
    triples: DataFrame, context_id: str, schema: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Triples -> (entities, mention->entity mapping, rejected mentions):
    the gated vocabulary through blocking joins + connected components."""
    vocabulary, rejected = gated_vocabulary(triples)
    entities, mapping = canonicalize_mentions(
        vocabulary, context_id, schema=schema, pre_counted=True
    )
    return entities, mapping, rejected


def resolve_ids(props: DataFrame, mapping: DataFrame) -> DataFrame:
    """Attach subj_id / obj_id (NULL when unresolved) from the entity map."""
    subj_map = mapping.select(
        F.col("norm_key").alias("_sk"), F.col("type_key").alias("_st"), F.col("resolved_id").alias("subj_id")
    )
    obj_map = mapping.select(
        F.col("norm_key").alias("_ok"), F.col("type_key").alias("_ot"), F.col("resolved_id").alias("obj_id")
    )
    return (
        props.withColumn("_sk", norm_key("subj_span"))
        .withColumn("_st", F.lower("subj_type"))
        .withColumn("_ok", norm_key("obj_span"))
        .withColumn("_ot", F.lower("obj_type"))
        # Entity-map joins: AQE picks broadcast when the distinct-mention
        # vocabulary is small; at 10^12-turn scale it shuffles on the salted
        # norm_key (vocabulary cardinality, not mention cardinality).
        .join(subj_map, ["_sk", "_st"], "left")
        .join(obj_map, ["_ok", "_ot"], "left")
        .drop("_sk", "_st", "_ok", "_ot")
    )


def run_pipeline(
    transcripts: DataFrame,
    context_id: str = "default",
    relations: DataFrame | None = None,
    conf_overrides: dict | None = None,
    use_udf_extractor: bool = True,
    min_confidence: float = DEFAULT_MIN_CONFIDENCE,
    processed_chunks: DataFrame | None = None,
    run_id: str = "run-0",
    spill_dir: str | None = None,
    perspective: str = "ALL",
    existing_props: DataFrame | None = None,
    existing_edges: DataFrame | None = None,
    existing_entities: DataFrame | None = None,
    schema: DataFrame | None = None,
    additional_grounding: list[str] | None = None,
) -> dict[str, DataFrame]:
    """spill_dir: when set, shared intermediates (extraction output) are
    materialized as parquet under this path instead of a deserialized
    localCheckpoint — columnar on disk, no executor-memory footprint. This is
    the multi-executor-cluster shape (stage outputs written to shared storage);
    in local mode it lifts the single-JVM block-manager ceiling at 10M+ turns.
    """
    chunks = assemble_windows(transcripts)
    turns = None
    if processed_chunks is not None:
        # Resume: skip windows whose content hash was already processed
        # (IngestionLedger.recordIfAbsent / ChunkHistoryStore semantics).
        chunks = chunks.join(
            processed_chunks.select("conv_id", "content_hash"),
            ["conv_id", "content_hash"],
            "left_anti",
        )
    else:
        # Fresh run over raw transcripts: derive per-turn rows directly from
        # the transcript rows (windowed_turns == split_turns(assemble_windows)
        # for the canonical contract, tests/test_assembly_fused.py) — the
        # extraction branch then skips the chunk-text render -> re-parse round
        # trip entirely. The resume path must derive turns from the FILTERED
        # chunks, so it keeps the composition.
        turns = windowed_turns(transcripts)
    return process_chunks(
        chunks,
        turns=turns,
        context_id=context_id,
        relations=relations,
        conf_overrides=conf_overrides,
        use_udf_extractor=use_udf_extractor,
        min_confidence=min_confidence,
        run_id=run_id,
        spill_dir=spill_dir,
        perspective=perspective,
        existing_props=existing_props,
        existing_edges=existing_edges,
        existing_entities=existing_entities,
        schema=schema,
        additional_grounding=additional_grounding,
    )


def process_chunks(
    chunks: DataFrame,
    turns: DataFrame | None = None,
    context_id: str = "default",
    relations: DataFrame | None = None,
    conf_overrides: dict | None = None,
    use_udf_extractor: bool = True,
    min_confidence: float = DEFAULT_MIN_CONFIDENCE,
    run_id: str = "run-0",
    spill_dir: str | None = None,
    perspective: str = "ALL",
    existing_props: DataFrame | None = None,
    existing_edges: DataFrame | None = None,
    existing_entities: DataFrame | None = None,
    schema: DataFrame | None = None,
    additional_grounding: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Assembled chunks -> the full downstream stage graph.

    The post-assembly entry point shared by the batch pipeline (run_pipeline)
    and the Structured Streaming foreachBatch sink (streaming/stream.py),
    which assembles its own incremental windows per micro-batch.
    """
    spark = chunks.sparkSession
    relations = relations if relations is not None else relations_df(spark)

    def _materialize(df: DataFrame, name: str) -> DataFrame:
        if spill_dir is None:
            # Lazy: the first action computes it; later readers reuse it.
            return df.localCheckpoint(eager=False)
        path = f"{spill_dir}/{name}.parquet"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # Assembly feeds both the turn-split/extraction branch (which prunes to
    # chunk_id/conv_id/window_start/text) and the provenance grounding join
    # (which prunes to chunk_id/content_hash). Share ONLY the slim meta
    # projection: materializing full chunks is a trap — emitting text AND
    # sha2(text) through one aggregation output projection drops the render
    # out of codegen into interpreted ArrayTransform eval (~100x slower,
    # measured), because no single consumer ever materializes both columns
    # otherwise. The two branches re-run the (cheap, shuffle-parallel)
    # assembly independently, exactly the column-pruned round-1 plan shape.
    if turns is None:
        turns = split_turns(chunks)

    raw_triples = extract(turns, relations, conf_overrides, use_udf_extractor, perspective)
    chunk_meta_src = chunks.select("chunk_id", "content_hash")
    if spill_dir is not None:
        # The two spill writes are INDEPENDENT jobs (the meta branch renders
        # chunk text for its hash; the extraction branch never reads it), so
        # submit them from two driver threads (guide §2.6): the scheduler
        # back-fills one job's straggler tail and serial segments (planning,
        # parquet commit) with the other's tasks. Actions are only
        # sequential because driver code calls them sequentially.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_meta = pool.submit(_materialize, chunk_meta_src, "chunk_meta")
            f_triples = pool.submit(_materialize, raw_triples, "triples")
            chunk_meta, triples = f_meta.result(), f_triples.result()
    else:
        chunk_meta = _materialize(chunk_meta_src, "chunk_meta")
        # Extraction feeds both the mention/canonicalization branch and the
        # proposition branch — materialize once.
        triples = _materialize(raw_triples, "triples")

    # schema: optional (entity_type, creation_permitted) — closed types are
    # vetoed from entity minting (EscalatingEntityResolver.kt:224-237);
    # their propositions keep NULL subj/obj ids and the projection gate
    # drops those edges downstream.
    entities, mapping, rejected_mentions = canonicalize(triples, context_id, schema=schema)

    props = triples_to_propositions(triples, context_id)
    # Provenance stamp (PropositionPipeline.stampProvenance): every
    # proposition carries content-addressed locators for its grounding chunks,
    # plus the derived authority tier and authority-weighted trust score.
    from dice_spark.operators.provenance import (
        with_additional_grounding,
        with_provenance_metadata,
    )

    props = with_provenance_metadata(props, chunk_meta, hash_col="content_hash")
    # rememberText's additionalGrounding enrichment (PropositionPipeline
    # .processOnce, AdditionalGroundingTest.kt): extra source-record ids are
    # merged into every persisted proposition's grounding on top of the
    # primary chunk ids. Non-chunk ids contribute no provenance locator
    # (stamp's inner join skips them) — same as the reference, where only
    # resolvable sources gain locators.
    props = with_additional_grounding(props, additional_grounding)
    props = resolve_ids(props, mapping)

    classified = classify_projection(props, relations, min_confidence)
    edges = project_edges(classified)
    if existing_edges is not None:
        # Reconcile against the durable graph: an edge_ref already in the
        # store is ADOPTED (reuse + lineage), unseen refs are PROJECTED.
        from dice_spark.operators.projection import reconcile_edges

        edges = reconcile_edges(edges, existing_edges)
    records = projection_records(classified, run_id)

    # Revision stage (reference write path, PropositionPipeline.kt:254-281):
    # when an existing store is supplied, the incoming batch is revised
    # against it — merge / reinforce / contradict per LlmPropositionReviser —
    # and the revised store is the durable output alongside this batch's graph.
    revision = None
    if existing_props is not None:
        from dice_spark.operators.revision import revise_batch

        revision = revise_batch(existing_props, props)

    # Per-batch change contract (KnowledgeGraphDelta.kt:27-69): what this
    # batch adds vs merges into the durable store. Lazy — no extra action.
    from dice_spark.operators.delta import compute_delta

    delta = compute_delta(
        chunks=chunks,
        entities=entities,
        edges=edges,
        existing_entities=existing_entities,
        existing_edges=existing_edges,
    )

    result = {
        **({"revision": revision} if revision is not None else {}),
        "delta": delta,
        "rejected_mentions": rejected_mentions,
        "chunks": chunks,
        "turns": turns,
        "triples": triples,
        "propositions": props,
        "entities": entities,
        "mention_mapping": mapping,
        "classified": classified,
        "edges": edges,
        "projection_records": records,
    }
    return result


def run_entity_pipeline(
    transcripts: DataFrame,
    context_id: str = "default",
    conf_overrides: dict | None = None,
    use_udf_extractor: bool = True,
) -> dict[str, DataFrame]:
    """Entity-only variant of the pipeline (EntityPipeline,
    /root/reference/dice/src/main/kotlin/com/embabel/dice/entity/
    EntityPipeline.kt:46): extract mentions, filter junk spans, canonicalize —
    no propositions, no projection. Returns entities + the mention->entity
    mapping + rejected mentions."""
    relations = relations_df(transcripts.sparkSession)
    triples = extract(windowed_turns(transcripts), relations, conf_overrides, use_udf_extractor)
    entities, mapping, rejected = canonicalize(triples.localCheckpoint(eager=False), context_id)
    return {
        "entities": entities,
        "mention_mapping": mapping,
        "rejected_mentions": rejected,
    }
