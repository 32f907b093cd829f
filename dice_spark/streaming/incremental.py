"""Incremental conversation analysis — the reference's streaming-ish surface.

The reference processes *growing* conversations pull-based with per-conv
bookmarks and a trigger threshold (AbstractIncrementalAnalyzer.analyze,
/root/reference/dice/.../incremental/AbstractIncrementalAnalyzer.kt:75-162):

  newItems = conv_size - bookmark.endIndex; if newItems < triggerInterval: skip
  window:  start = max(0, bookmark.endIndex - overlap)
           end   = min(conv_size, start + windowSize)

There are no watermarks: late data is impossible by construction (windows are
index-based over an ordered turn list) and re-delivery is suppressed by
content-hash dedup. We implement it as incremental batch over table snapshots
— one set-oriented pass computes every triggered conversation's next window
(the reference loops per conversation on one thread).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dice_spark.operators.adaptive import local_frame
from dice_spark.operators.assembly import (
    OVERLAP_SIZE,
    TRIGGER_INTERVAL,
    WINDOW_SIZE,
    turn_render_expr,
)


def triggered_windows(
    transcripts: DataFrame,
    bookmarks: DataFrame | None,
    window_size: int = WINDOW_SIZE,
    overlap: int = OVERLAP_SIZE,
    trigger: int = TRIGGER_INTERVAL,
) -> DataFrame:
    """Conversations whose unprocessed tail crossed the trigger -> next window.

    bookmarks: (conv_id, end_index) — max processed end per conversation, the
    ``processed_chunks`` table aggregated; None = nothing processed yet.
    Returns (conv_id, window_start, window_end) for the next window of each
    triggered conversation.
    """
    sizes = transcripts.groupBy("conv_id").agg((F.max("turn_idx") + 1).alias("size"))
    if bookmarks is None:
        bookmarks = local_frame(transcripts.sparkSession, [], "conv_id string, end_index int")
    bm = bookmarks.groupBy("conv_id").agg(F.max("end_index").alias("last_end"))
    j = sizes.join(bm, "conv_id", "left").withColumn(
        "last_end", F.coalesce("last_end", F.lit(0))
    )
    triggered = j.filter(F.col("size") - F.col("last_end") >= trigger)
    start = F.greatest(F.col("last_end") - overlap, F.lit(0))
    end = F.least(F.col("size"), start + window_size)
    return triggered.select(
        "conv_id",
        start.cast("int").alias("window_start"),
        end.cast("int").alias("window_end"),
    )


def assemble_triggered(transcripts: DataFrame, windows: DataFrame) -> DataFrame:
    """Materialize the triggered windows as chunks (same shape as assembly)."""
    t = transcripts.join(windows, "conv_id").filter(
        (F.col("turn_idx") >= F.col("window_start")) & (F.col("turn_idx") < F.col("window_end"))
    )
    has_name = "name" in transcripts.columns
    struct_cols = ["turn_idx", "role", "text"] + (["name"] if has_name else [])
    turns = F.array_sort(F.collect_list(F.struct(*struct_cols)))
    rendered = F.concat_ws(
        "\n\n", F.transform(turns, lambda s: turn_render_expr(s, has_name))
    )
    return (
        t.groupBy("conv_id", "window_start", "window_end")
        .agg(rendered.alias("text"), F.count(F.lit(1)).cast("int").alias("n_turns"))
        .select(
            F.concat_ws(
                ":",
                F.col("conv_id"),
                F.col("window_start").cast("string"),
                F.col("window_end").cast("string"),
            ).alias("chunk_id"),
            "conv_id",
            "window_start",
            "window_end",
            "text",
            F.sha2(F.col("text"), 256).alias("content_hash"),
            "n_turns",
        )
    )
