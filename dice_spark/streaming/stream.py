"""Structured Streaming entry: readStream -> incremental KG construction.

The reference's streaming-ish surface is pull-based incremental analysis
(AbstractIncrementalAnalyzer.analyze, /root/reference/dice/src/main/kotlin/com/
embabel/dice/incremental/AbstractIncrementalAnalyzer.kt:75-162): per-
conversation bookmarks, a trigger threshold, index-based windows, content-hash
re-delivery suppression. This module lifts that exact contract onto Spark
Structured Streaming:

* ``readStream`` over a transcript-turn directory (new files = new turns);
* ``foreachBatch`` — the recommended shape for complex merge sinks — reuses
  the BATCH operator set per micro-batch: triggered_windows + assemble +
  ledger anti-join + process_chunks (extraction -> canonicalize -> project);
* durable state (turns, bookmarks, ledger, propositions, edges) lives in the
  Warehouse's MERGE-by-key tables, not in streaming state stores — matching
  the reference, where the store IS the state. No watermarks are needed: late
  data is impossible by construction (windows are index-based over ordered
  turn lists) and replays are suppressed by the content-hash ledger, so every
  micro-batch is idempotent (exactly-once effects on MERGE keys even under
  at-least-once delivery).

Scale notes: each micro-batch prunes the durable turns table to the
conversations present in the batch (left-semi join on conv_id) before
windowing, so per-batch work is O(affected conversations), not O(history).
Entity identity is stable across batches because node ids are
content-derived (context|type|norm_key); cross-batch cluster refinement is
the consolidation pass's job, as in the reference's dream loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dice_spark.operators.assembly import (
    OVERLAP_SIZE,
    TRIGGER_INTERVAL,
    WINDOW_SIZE,
)
from dice_spark.pipeline import process_chunks
from dice_spark.storage import Warehouse
from dice_spark.streaming.incremental import assemble_triggered, triggered_windows

TURN_SCHEMA = "conv_id string, turn_idx int, role string, text string"


def merge_propositions_reinforcing(wh: Warehouse, incoming: DataFrame) -> None:
    """MERGE propositions with cross-batch reinforcement folding.

    The batch engine folds same-text occurrences at extraction time
    (triples_to_propositions: conf = min(base·(1+0.3·(n−1)), 0.99),
    decay = base·0.7^(n−1), reinforce_count = n−1 — the per-duplicate merge
    rule of LlmPropositionReviser.mergePropositions, revision/
    LlmPropositionReviser.kt:666-684). A plain new-row-wins MERGE would lose
    the occurrences an earlier micro-batch already banked, so a proposition
    split across batches would diverge from the batch engine. This fold
    recomputes confidence/decay from the stored un-rounded base values over
    the COMBINED occurrence count — the same formula over the same doubles,
    hence bit-identical to a single batch run (the single-path guarantee,
    AbstractIncrementalAnalyzer.kt:109-162).

    grounding / source_ids: sorted-distinct union re-capped to the
    MAX_GROUNDING smallest ids — identical to the batch cap, because the k
    smallest of (A ∪ B) are contained in (k smallest of A) ∪ (k smallest
    of B). provenance: key union with authority/trust recomputed; when the
    grounding cap binds (>MAX_GROUNDING chunks) the folded provenance may
    retain keys a single batch run would have truncated — authority can only
    strengthen, never weaken. pinned: sticky OR.
    """
    from dice_spark.operators.extraction import MAX_GROUNDING
    from dice_spark.operators.provenance import authority_tier, trust_score

    if not wh.exists("propositions"):
        wh.overwrite("propositions", incoming)
        return
    existing = wh.read("propositions")
    inc_ids = incoming.select("prop_id")
    ex_ids = existing.select("prop_id")
    keep_ex = existing.join(inc_ids, "prop_id", "left_anti")
    new_inc = incoming.join(ex_ids, "prop_id", "left_anti")
    dup_ex = existing.join(inc_ids, "prop_id", "left_semi").select(
        "prop_id",
        F.col("reinforce_count").alias("_r_e"),
        F.col("grounding").alias("_g_e"),
        F.col("source_ids").alias("_s_e"),
        F.col("provenance").alias("_p_e"),
        F.col("pinned").alias("_pin_e"),
    )
    folded = incoming.join(dup_ex, "prop_id")
    n = (F.col("_r_e") + F.col("reinforce_count") + 2).cast("double")
    conf = F.least(
        F.col("base_confidence") * (F.lit(1.0) + F.lit(0.3) * (n - 1)), F.lit(0.99)
    )
    dec = F.col("base_decay") * F.pow(F.lit(0.7), n - 1)

    def _cap_union(a: str, b: str):
        return F.slice(
            F.array_sort(F.array_distinct(F.concat(F.col(a), F.col(b)))),
            1,
            MAX_GROUNDING,
        )

    folded = (
        folded.withColumn("confidence", F.round(conf, 6))
        .withColumn("decay", F.round(dec, 6))
        .withColumn("reinforce_count", (n - 1).cast("int"))
        .withColumn("grounding", _cap_union("_g_e", "grounding"))
        .withColumn("source_ids", _cap_union("_s_e", "source_ids"))
        .withColumn(
            "provenance", F.array_sort(F.array_distinct(F.concat("_p_e", "provenance")))
        )
        .withColumn("authority_tier", authority_tier())
        .withColumn("trust_score", trust_score())
        .withColumn("pinned", F.col("pinned") | F.col("_pin_e"))
        .drop("_r_e", "_g_e", "_s_e", "_p_e", "_pin_e")
    )
    out = keep_ex.unionByName(new_inc, allowMissingColumns=True).unionByName(
        folded, allowMissingColumns=True
    )
    wh.overwrite("propositions", out)


def merge_entities_folding(wh: Warehouse, incoming: DataFrame) -> None:
    """MERGE entities combining rows that share a content-derived entity_id.

    surface_forms: sorted-distinct union; n_mentions: sum (micro-batches
    cover disjoint chunks — replays are ledger-suppressed); canonical_name:
    re-selected over the unioned forms with the batch selector
    (DefaultCanonicalNameSelector score over normalized forms, lexicographic
    tie-break) — the score is a pure function of the form, so the winner over
    the union equals the winner a single batch run would pick."""
    from dice_spark.functions.normalize import normalize_name
    from dice_spark.functions.textfns import canonical_name_score

    if not wh.exists("entities"):
        wh.overwrite("entities", incoming)
        return
    existing = wh.read("entities")
    inc_ids = incoming.select("entity_id")
    ex_ids = existing.select("entity_id")
    keep_ex = existing.join(inc_ids, "entity_id", "left_anti")
    new_inc = incoming.join(ex_ids, "entity_id", "left_anti")
    dup_ex = existing.join(inc_ids, "entity_id", "left_semi").select(
        "entity_id",
        F.col("surface_forms").alias("_sf_e"),
        F.col("n_mentions").alias("_n_e"),
    )
    folded = (
        incoming.join(dup_ex, "entity_id")
        .withColumn(
            "surface_forms",
            F.array_sort(F.array_distinct(F.concat("_sf_e", "surface_forms"))),
        )
        .withColumn("n_mentions", F.col("n_mentions") + F.col("_n_e"))
        .drop("_sf_e", "_n_e")
    )
    # re-select the canonical display name over the unioned normalized forms:
    # fold to the best (score desc, form asc) pair — the batch selector's
    # window ordering expressed as an array aggregate.
    norm = F.array_distinct(
        F.transform("surface_forms", lambda s: normalize_name(s))
    )
    scored = F.transform(
        norm,
        lambda f: F.struct(
            canonical_name_score(f).cast("long").alias("s"), f.alias("f")
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("long").alias("s"), F.lit(None).cast("string").alias("f")
        ),
        lambda acc, x: F.when(
            acc["f"].isNull()
            | (x["s"] > acc["s"])
            | ((x["s"] == acc["s"]) & (x["f"] < acc["f"])),
            x,
        ).otherwise(acc),
    )
    folded = folded.withColumn("canonical_name", best["f"])
    out = keep_ex.unionByName(new_inc, allowMissingColumns=True).unionByName(
        folded, allowMissingColumns=True
    )
    wh.overwrite("entities", out)


class StreamingPipeline:
    """foreachBatch sink that incrementally grows the KG warehouse."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        context_id: str = "stream",
        window_size: int = WINDOW_SIZE,
        overlap: int = OVERLAP_SIZE,
        trigger: int = TRIGGER_INTERVAL,
        use_udf_extractor: bool = True,
        perspective: str = "ALL",
        additional_grounding: list[str] | None = None,
    ):
        if overlap >= window_size:
            # the drain loop's termination proof needs a positive stride
            raise ValueError(f"overlap {overlap} must be < window_size {window_size}")
        self.spark = spark
        self.wh = Warehouse(warehouse_root, spark)
        self.context_id = context_id
        self.window_size = window_size
        self.overlap = overlap
        self.trigger = trigger
        self.use_udf_extractor = use_udf_extractor
        self.perspective = perspective
        # rememberText's additionalGrounding: extra source-record ids merged
        # into every proposition this stream persists (e.g. the connector
        # feed id behind the stream).
        self.additional_grounding = additional_grounding

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        wh = self.wh
        wh.merge("turns", batch, ["conv_id", "turn_idx"])
        turns = wh.read("turns")
        # Prune history to the conversations this batch touched.
        convs = batch.select("conv_id").distinct()
        active = turns.join(convs, "conv_id", "left_semi")
        bookmarks = wh.read("bookmarks") if wh.exists("bookmarks") else None

        # Drain EVERY triggered window, not just the first: the reference's
        # caller invokes analyze() until quiescent (AbstractIncrementalAnalyzer
        # .kt:75-108 processes one window per call and relies on the pull loop
        # to exhaust the backlog), so a micro-batch delivering a 100-turn burst
        # must ladder through all its windows here. Each iteration is one
        # set-oriented pass over ALL triggered conversations; the loop depth is
        # ceil(longest unprocessed tail / stride), not the conversation count.
        # Termination: a triggered window always advances last_end by
        # min(remaining, window - overlap) >= 1. Draining also makes the sink
        # single-path with the batch engine: the incremental ladder
        # (start = last_end - overlap) lands on exactly assemble_windows'
        # stride tiling, so a conversation delivered whole produces the same
        # chunks — hence the same propositions/entities/edges — as
        # run_pipeline (tests/test_streaming.py parity test).
        win_parts: list[DataFrame] = []
        while True:
            wins = triggered_windows(
                active,
                bookmarks,
                window_size=self.window_size,
                overlap=self.overlap,
                trigger=self.trigger,
            ).localCheckpoint(eager=True)  # tiny: one row per triggered conv
            if wins.count() == 0:
                break
            win_parts.append(wins)
            adv = wins.select("conv_id", F.col("window_end").alias("end_index"))
            bookmarks = adv if bookmarks is None else bookmarks.unionByName(adv)
        if not win_parts:
            return
        wins = win_parts[0]
        for p in win_parts[1:]:
            wins = wins.unionByName(p)
        chunks = assemble_triggered(active, wins)
        if wh.exists("ledger"):
            chunks = chunks.join(
                wh.read("ledger"), ["conv_id", "content_hash"], "left_anti"
            )
        chunks = chunks.localCheckpoint(eager=True)
        if chunks.count() == 0:
            # Everything in this batch was re-delivered content the ledger
            # already recorded; still advance the bookmarks (idempotent — the
            # reader takes max(end_index)) so later batches don't re-trigger.
            wh.append(
                "bookmarks",
                wins.select("conv_id", F.col("window_end").alias("end_index")),
            )
            return
        run_id = f"batch-{batch_id}"
        out = process_chunks(
            chunks,
            context_id=self.context_id,
            use_udf_extractor=self.use_udf_extractor,
            run_id=run_id,
            perspective=self.perspective,
            additional_grounding=self.additional_grounding,
        )
        # One computation serves both the event emission and the MERGEs:
        # the events must be derived against the PRE-merge store (a lazy
        # anti-join would re-read the table after the merge overwrote it and
        # see nothing new), and the checkpoint keeps the merge from running
        # the extraction pipeline a second time.
        props = out["propositions"].localCheckpoint(eager=True)
        edges = out["edges"].localCheckpoint(eager=True)
        entities = out["entities"].localCheckpoint(eager=True)

        # Domain events (EventEmittingPropositionRepository.kt:81-126): every
        # save of a previously unseen proposition emits PropositionDiscovered;
        # idempotent replays of known prop_ids emit nothing. One batch-level
        # ExtractionBatchCompleted carries the tallies (DiceEvent.kt).
        from dice_spark.operators.events import EVENT_COLUMNS, extraction_batch_event

        new_props = props.select("prop_id")
        if wh.exists("propositions"):
            new_props = new_props.join(
                wh.read("propositions").select("prop_id"), "prop_id", "left_anti"
            )
        discovered = new_props.select(
            F.lit("PropositionDiscovered").alias("event_type"),
            F.lit(run_id).alias("run_id"),
            "prop_id",
            F.lit(None).cast("string").alias("previous_status"),
            F.lit(None).cast("string").alias("new_status"),
            F.lit("stream-save").alias("reason"),
            F.lit(None).cast("string").alias("payload"),
        ).select(*EVENT_COLUMNS)
        stats = self.spark.createDataFrame(
            [(chunks.count(), props.count(), edges.count(), entities.count())],
            "n_chunks long, n_propositions long, n_edges long, n_entities long",
        )
        events = discovered.unionByName(extraction_batch_event(stats, run_id))
        # MERGE (not append) on a minted id so a replayed micro-batch — the
        # retry path where the event write succeeded but a later merge
        # failed — never duplicates event rows (null prop_id on batch-level
        # events would defeat a raw natural-key merge).
        events = events.withColumn(
            "event_id",
            F.md5(
                F.concat_ws(
                    "|", "event_type", "run_id", F.coalesce("prop_id", F.lit(""))
                )
            ),
        )
        wh.merge("events", events, ["event_id"])

        # MERGE keys make replays of a failed micro-batch idempotent; the
        # folding merges additionally keep cross-batch duplicates on the batch
        # engine's arithmetic (single-path guarantee — see the fold helpers).
        merge_propositions_reinforcing(wh, props)
        merge_entities_folding(wh, entities)

        # Edges are RE-DERIVED from the post-merge proposition store for the
        # edge_refs this batch touched, via a durable per-prop support
        # relation (edge_ref, prop_id) — uncapped lineage, the same row count
        # as projection records. The re-derivation is the batch engine's own
        # edge aggregation (projection.aggregate_edges) over every supporting
        # proposition's post-merge confidence and text, so when a
        # reinforcement fold raises a supporting proposition's confidence the
        # edge follows, exactly as a single batch run would have computed it.
        from dice_spark.operators.projection import (
            DEFAULT_MIN_CONFIDENCE,
            aggregate_edges,
            classify_projection,
            edge_ref,
            edge_rows,
        )
        from dice_spark.pipeline import relations_df

        # Classify this batch's props against their POST-merge confidence:
        # the folded value only rises, so this reproduces the per-batch
        # PROJECTED set and additionally promotes a duplicated proposition
        # whose per-batch confidence sat below the projection gate but
        # crosses it once folded — keeping batch mode and stream mode agreed.
        merged = wh.read("propositions")
        reclassified = classify_projection(
            props.drop("confidence").join(merged.select("prop_id", "confidence"), "prop_id"),
            relations_df(self.spark),
            DEFAULT_MIN_CONFIDENCE,
        )
        sup = (
            edge_rows(reclassified)
            .select("source_id", "target_id", "edge_type", "prop_id", edge_ref().alias("edge_ref"))
            .localCheckpoint(eager=True)
        )
        wh.merge("edge_support", sup, ["edge_ref", "prop_id"])

        affected = sup.select("edge_ref").distinct()
        sup_all = wh.read("edge_support").join(
            F.broadcast(affected), "edge_ref", "left_semi"
        )
        recomputed = aggregate_edges(
            sup_all.drop("edge_ref").join(
                merged.select("prop_id", "confidence", F.col("text").alias("description")),
                "prop_id",
            )
        )
        # edge_ref = "src-[TYPE]->dst" already encodes the full MERGE key
        # (GraphProjector.kt:55).
        wh.merge("edges", recomputed, ["edge_ref"])
        wh.append("ledger", chunks.select("conv_id", "content_hash"))
        wh.append(
            "bookmarks",
            wins.select("conv_id", F.col("window_end").alias("end_index")),
        )

    def start(
        self,
        input_path: str,
        checkpoint_dir: str,
        schema: str = TURN_SCHEMA,
        available_now: bool = True,
    ):
        """Start the stream. ``available_now`` processes what's there and
        stops (test/backfill mode); False runs continuously."""
        stream = self.spark.readStream.schema(schema).parquet(input_path)
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
