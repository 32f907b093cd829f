"""Per-conversation turn assembly: transcripts -> overlapped window chunks.

Mirrors the reference's incremental window processor
(AbstractIncrementalAnalyzer.processWindow, /root/reference/dice/src/main/kotlin/
com/embabel/dice/incremental/AbstractIncrementalAnalyzer.kt:109-162) with
windowSize=20 / overlapSize=2 defaults (ChunkHistoryModels.kt:97-112), and the
turn renderer MessageFormatter.format (ConversationSource.kt:48-62): each turn
renders "role: text" and turns join with "\\n\\n" — per-turn text equality is
preserved exactly and is the tested row invariant.

Scale notes: the whole stage is one shuffle on conv_id (the window explode is
map-side); turn order inside a window comes from sort_array on (turn_idx), never
from partition order. At 10^12 turns the conv_id hash distributes uniformly and
no conversation's window exceeds window_size rows, so per-group state is O(20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW_SIZE = 20
OVERLAP_SIZE = 2
TRIGGER_INTERVAL = 4


def turn_render_expr(s, has_name: bool):
    """MessageFormatter.format (ConversationSource.kt:48-62): "name (role):
    content" when the turn struct carries a non-empty sender name, plain
    "role: text" otherwise. Shared by the batch (assemble_windows) and
    incremental/streaming (assemble_triggered) paths so identical input
    renders identical chunk text — and identical content hashes — on both."""
    plain = F.concat(s["role"], F.lit(": "), s["text"])
    if not has_name:
        return plain
    named = F.concat(s["name"], F.lit(" ("), s["role"], F.lit("): "), s["text"])
    return F.when(s["name"].isNotNull() & (F.length(s["name"]) > 0), named).otherwise(plain)


def assemble_windows(
    transcripts: DataFrame,
    window_size: int = WINDOW_SIZE,
    overlap: int = OVERLAP_SIZE,
) -> DataFrame:
    """Group turns into overlapped windows and render chunk text.

    Window w covers turn indexes [w*stride, w*stride + window_size) with
    stride = window_size - overlap, so a turn belongs to floor(t/stride) and,
    when t % stride < overlap, also to the previous window — the batch
    equivalent of the reference's "start = last - overlap" incremental slide.
    """
    stride = window_size - overlap
    t = F.col("turn_idx")
    w0 = F.floor(t / stride).cast("int")
    in_prev = (t % stride < overlap) & (w0 > 0)
    exploded = transcripts.withColumn(
        "window_id",
        F.explode(
            F.when(in_prev, F.array(w0 - 1, w0)).otherwise(F.array(w0))
        ),
    )
    # MessageFormatter.format (ConversationSource.kt:48-62): "name (role):
    # content" when the turn carries a sender name, plain "role: text" else.
    has_name = "name" in transcripts.columns
    struct_cols = ["turn_idx", "role", "text"] + (["name"] if has_name else [])
    turns = F.array_sort(F.collect_list(F.struct(*struct_cols)))
    grouped = (
        exploded.groupBy("conv_id", "window_id")
        .agg(
            turns.alias("turns"),
            F.min("turn_idx").alias("window_start"),
            (F.max("turn_idx") + 1).cast("int").alias("window_end"),
            F.count(F.lit(1)).cast("int").alias("n_turns"),
        )
        # Drop overlap-only sliver windows: when a conversation ends within
        # the overlap region of its last full window (size <= w*stride +
        # overlap), window w would contain ONLY turns the previous window
        # already covers — pure re-analysis that double-reinforces its
        # propositions. The reference's incremental ladder (start =
        # last_end - overlap, AbstractIncrementalAnalyzer.kt:109-162) never
        # emits such a window, and the streaming sink's single-path parity
        # with this batch tiling depends on both agreeing. Turn indexes are
        # dense per conversation, so n_turns <= overlap on a w >= 1 window
        # is exactly the sliver condition. (Filter runs post-aggregation —
        # the groupBy shuffle already happened, so it costs nothing.)
        .filter(~((F.col("window_id") >= 1) & (F.col("n_turns") <= F.lit(overlap))))
    )

    rendered = F.concat_ws(
        "\n\n", F.transform(F.col("turns"), lambda s: turn_render_expr(s, has_name))
    )
    return grouped.select(
        F.concat_ws(
            ":",
            F.col("conv_id"),
            F.col("window_start").cast("string"),
            F.col("window_end").cast("string"),
        ).alias("chunk_id"),
        "conv_id",
        "window_start",
        "window_end",
        rendered.alias("text"),
        F.sha2(rendered, 256).alias("content_hash"),
        "n_turns",
    )


def windowed_turns(
    transcripts: DataFrame,
    window_size: int = WINDOW_SIZE,
    overlap: int = OVERLAP_SIZE,
) -> DataFrame:
    """``split_turns(assemble_windows(t))`` without the render -> parse round trip.

    The composition builds each window's full chunk text (collect_list +
    array_sort + a per-turn render) only to split it back into per-turn rows
    and re-parse role/text out of the rendered lines. For the extraction
    branch none of that string work is needed: the turn rows themselves carry
    (conv_id, turn_idx, role, text), and with the engine's canonical
    transcript contract — dense 0-based per-conversation turn indexes
    (transcripts_from_events emits row_number()-1) and single-line turn text
    (no "\\n\\n" inside a turn) — the window geometry is pure arithmetic:

      window_start(w) = w * stride
      window_end(w)   = min(conv_len, w * stride + window_size)
      sliver(w)       = w >= 1 and conv_len - w * stride <= overlap

    so the only non-map-side work is the per-conversation length aggregate,
    which AQE broadcast-joins back (the turn stream itself is never
    shuffled; at scale the join degrades gracefully to a conv_id shuffle).
    Value-identity with the composition is pinned by
    tests/test_assembly_fused.py on the driver events data and the golden
    fixtures. A turn index outside [0, conv_len) — sparse or negative
    indexes — fails the job: the arithmetic windows would name chunks that
    assemble_windows never emits, and every proposition would be grounded in
    a missing chunk. Multi-line turn text is not checked; such inputs must
    use the composition.
    """
    stride = window_size - overlap
    t = F.col("turn_idx")
    w0 = F.floor(t / stride).cast("int")
    in_prev = (t % stride < overlap) & (w0 > 0)
    # Dense contract: conv_len = max(turn_idx) + 1 = count(*). Counting needs
    # only conv_id, so when turn_idx is itself a window computation (as in
    # transcripts_from_events) Catalyst prunes that window out of this branch
    # and the length aggregate becomes a map-side partial count on the scan.
    conv_len = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("_conv_len")
    )
    # Checked before the sliver filter, so no out-of-range row escapes it; the
    # length is already joined, so the check adds no aggregate and no action.
    dense_idx = F.when(
        (t < 0) | (t >= F.col("_conv_len")),
        F.raise_error(
            F.concat(F.lit("turn_idx is not dense 0-based in conv_id "), F.col("conv_id"))
        ),
    ).otherwise(t)
    exploded = (
        transcripts.join(conv_len, "conv_id")
        .withColumn("turn_idx", dense_idx)
        .withColumn(
            "window_id",
            F.explode(F.when(in_prev, F.array(w0 - 1, w0)).otherwise(F.array(w0))),
        )
        # same sliver-window rule as assemble_windows, in closed form
        .filter(
            (F.col("window_id") == 0)
            | (F.col("_conv_len") - F.col("window_id") * stride > overlap)
        )
    )
    ws = (F.col("window_id") * stride).cast("int")
    we = F.least(F.col("_conv_len"), ws + window_size).cast("int")
    return exploded.select(
        F.concat_ws(
            ":", F.col("conv_id"), ws.cast("string"), we.cast("string")
        ).alias("chunk_id"),
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "text",
    )


def split_turns(chunks: DataFrame) -> DataFrame:
    """Inverse of the renderer: chunk text -> one row per rendered turn line.

    Used by extraction (each line is "role: text" or "name (role): text") and
    by the per-turn text-equality invariant test. The header before the first
    ": " is "role" or "name (role)"; the role is the parenthesized tail when
    present.
    """
    header = F.substring_index(F.col("line"), ": ", 1)
    role = F.when(
        header.endswith(")") & header.contains(" ("),
        F.regexp_extract(header, r"\(([^()]*)\)$", 1),
    ).otherwise(header)
    return chunks.select(
        "chunk_id",
        "conv_id",
        "window_start",
        F.posexplode(F.split(F.col("text"), "\n\n")).alias("line_idx", "line"),
    ).select(
        "chunk_id",
        "conv_id",
        (F.col("window_start") + F.col("line_idx")).cast("int").alias("turn_idx"),
        role.alias("role"),
        # everything after the first ": " (substring ops, not regex — this
        # runs once per turn at 10^12-turn scale)
        F.expr("substring(line, length(substring_index(line, ': ', 1)) + 3)").alias("text"),
    )
