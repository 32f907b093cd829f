"""Deterministic synthetic transcript inputs.

The engine's input contract is an Iceberg/parquet table of multi-turn
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``. This module
provides three deterministic sources of that shape:

1. ``transcripts_from_events`` — derives transcripts from the driver's
   ``events`` parquet with pure arithmetic/CASE expressions. A DuckDB CTE
   (``TRANSCRIPTS_CTE``) computes byte-identical rows, which is what makes
   every downstream pipeline stage oracle-checkable end to end.
2. ``canonical_flow_rows`` — the golden canonical-flow fixture conversation
   ported from the reference TCK (dice-integration-tests/.../
   CanonicalFlowFixtures.kt:44-135).
3. ``er_fixture_rows`` — entity-resolution stress surface forms
   (normalization / partial / fuzzy / label-compatibility cases, FIXTURES.md §3).

Vocabularies are single-source-of-truth Python lists rendered into both
engines, so Spark and the oracle can never drift.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dice_spark.operators.adaptive import local_frame

# lpad TRUNCATES ids wider than the pad — 8 digits headroom so replicated /
# scaled user-id spaces never collapse distinct users into one conversation.
CONV_PAD = 8

FIRST_NAMES = ["Alice", "Bob", "Carol", "Dana", "Erin", "Frank", "Grace", "Heidi"]
LAST_NAMES = ["Nguyen", "Smith", "Jones", "Garcia", "Chen", "Patel", "Okafor"]
ORGS = ["Meridian Labs", "Acme Corp", "Globex", "Initech", "Umbrella Group", "Stark Industries"]
PROJECTS = ["Project Apollo", "Project Borealis", "Project Cascade", "Project Dynamo"]

# (predicate, subject_type_constraint, object_type_constraint); order = match
# priority (RelationBasedGraphProjector tries relations in declaration order,
# first substring match wins — projection/graph/RelationBasedGraphProjector.kt:292-325).
# predicate -> KnowledgeType, the declared classification each relation
# carries in the reference (common/Relation.kt:28-33 semantic / procedural /
# episodic factories): employment, founding, leadership and management are
# stable facts; reporting lines, mentorship and advising are behavioral
# patterns; the day-to-day collaboration predicates are events.
RELATION_KNOWLEDGE_TYPES: list[tuple[str, str]] = [
    ("works with", "EPISODIC"),
    ("reports to", "PROCEDURAL"),
    ("mentors", "PROCEDURAL"),
    ("collaborates with", "EPISODIC"),
    ("advises", "PROCEDURAL"),
    ("leads", "SEMANTIC"),
    ("supports", "EPISODIC"),
    ("is employed by", "SEMANTIC"),
    ("manages", "SEMANTIC"),
    ("founded", "SEMANTIC"),
]

RELATIONS: list[tuple[str, str | None, str | None]] = [
    ("works with", None, None),
    ("reports to", None, None),
    ("mentors", None, None),
    ("collaborates with", None, None),
    ("advises", None, None),
    ("leads", None, None),
    ("supports", None, None),
    ("is employed by", "Person", "Org"),
    ("manages", None, None),
    ("founded", "Person", "Org"),
]


def _pick(values: list[str], idx: Column) -> Column:
    """1-based element_at over a literal vocabulary (idx is 0-based mod)."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx + 1).cast("int"))


def _duck_pick(values: list[str], idx_sql: str) -> str:
    lit = "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"
    return f"({lit})[({idx_sql}) + 1]"


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) -> transcripts.

    conv_id groups a user's events; turn order is (ts, event_id). Turn text is
    a one-sentence fact "<subj> <predicate> <obj>." over the name vocabularies,
    with the subject rendered through 5 rotating surface variants so the
    linking tiers (title/reversal/case/middle-initial normalization) all fire.
    """
    uid, eid = F.col("user_id"), F.col("event_id")
    first = _pick(FIRST_NAMES, uid % 8)
    last = _pick(LAST_NAMES, uid % 7)
    base = F.concat_ws(" ", first, last)
    subj = (
        F.when(eid % 5 == 0, base)
        .when(eid % 5 == 1, F.concat(F.lit("Dr. "), base))
        .when(eid % 5 == 2, F.concat(last, F.lit(", "), first))
        .when(eid % 5 == 3, F.upper(base))
        .otherwise(F.concat(first, F.lit(" Q. "), last))
    )
    pred = _pick([r[0] for r in RELATIONS], eid % 10)
    obj = (
        F.when(eid % 3 == 0, F.concat_ws(" ", _pick(FIRST_NAMES, eid % 8), _pick(LAST_NAMES, (eid + 3) % 7)))
        .when(eid % 3 == 1, _pick(ORGS, eid % 6))
        .otherwise(_pick(PROJECTS, eid % 4))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.concat(F.lit("conv-"), F.lpad(uid.cast("string"), CONV_PAD, "0")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "purchase", "signup"), "user")
        .when(F.col("event_type") == "error", "tool")
        .otherwise("assistant")
        .alias("role"),
        F.concat(subj, F.lit(" "), pred, F.lit(" "), obj, F.lit(".")).alias("text"),
        F.when(F.col("event_type") == "error", "debugger").alias("tool"),
        F.col("ts"),
    )


def skewed_transcripts_from_events(
    events: "DataFrame", head_mod: int = 20, head_hits: int = 7
) -> "DataFrame":
    """Zipf-head variant of ``transcripts_from_events``: ``head_hits`` of every
    ``head_mod`` events (default 35%) put ONE fixed surface form — "the user"
    pinned to a first-person mention, mirroring schema_hints.jinja's
    first-person -> user pinning in the reference — in subject position, so a
    single entity dominates the mention stream the way the user entity does
    in real agent transcripts (SURVEY \u00a77 hard-part 1). Everything else
    (conversation grouping, roles, predicates, objects, surface-variant
    rotation on the tail subjects) matches the uniform generator, so the same
    pipeline runs unchanged on the skewed mix."""
    uid, eid = F.col("user_id"), F.col("event_id")
    first = _pick(FIRST_NAMES, uid % 8)
    last = _pick(LAST_NAMES, uid % 7)
    base = F.concat_ws(" ", first, last)
    tail_subj = (
        F.when(eid % 5 == 0, base)
        .when(eid % 5 == 1, F.concat(F.lit("Dr. "), base))
        .when(eid % 5 == 2, F.concat(last, F.lit(", "), first))
        .when(eid % 5 == 3, F.upper(base))
        .otherwise(F.concat(first, F.lit(" Q. "), last))
    )
    subj = F.when(eid % head_mod < head_hits, F.lit("Primary User")).otherwise(tail_subj)
    pred = _pick([r[0] for r in RELATIONS], eid % 10)
    obj = (
        F.when(eid % 3 == 0, F.concat_ws(" ", _pick(FIRST_NAMES, eid % 8), _pick(LAST_NAMES, (eid + 3) % 7)))
        .when(eid % 3 == 1, _pick(ORGS, eid % 6))
        .otherwise(_pick(PROJECTS, eid % 4))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.concat(F.lit("conv-"), F.lpad(uid.cast("string"), CONV_PAD, "0")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "purchase", "signup"), "user")
        .when(F.col("event_type") == "error", "tool")
        .otherwise("assistant")
        .alias("role"),
        F.concat(subj, F.lit(" "), pred, F.lit(" "), obj, F.lit(".")).alias("text"),
        F.when(F.col("event_type") == "error", "debugger").alias("tool"),
        F.col("ts"),
    )


def transcripts_cte(events_rel: str = "events") -> str:
    """DuckDB CTE body computing the identical transcripts rows."""
    first = _duck_pick(FIRST_NAMES, "user_id % 8")
    last = _duck_pick(LAST_NAMES, "user_id % 7")
    base = f"({first} || ' ' || {last})"
    subj = (
        f"(case when event_id % 5 = 0 then {base} "
        f"when event_id % 5 = 1 then 'Dr. ' || {base} "
        f"when event_id % 5 = 2 then {last} || ', ' || {first} "
        f"when event_id % 5 = 3 then upper({base}) "
        f"else {first} || ' Q. ' || {last} end)"
    )
    pred = _duck_pick([r[0] for r in RELATIONS], "event_id % 10")
    obj_person = f"({_duck_pick(FIRST_NAMES, 'event_id % 8')} || ' ' || {_duck_pick(LAST_NAMES, '(event_id + 3) % 7')})"
    obj = (
        f"(case when event_id % 3 = 0 then {obj_person} "
        f"when event_id % 3 = 1 then {_duck_pick(ORGS, 'event_id % 6')} "
        f"else {_duck_pick(PROJECTS, 'event_id % 4')} end)"
    )
    return f"""
SELECT
  'conv-' || lpad(cast(user_id as varchar), {CONV_PAD}, '0') AS conv_id,
  cast(row_number() over (partition by user_id order by ts, event_id) - 1 as int) AS turn_idx,
  case when event_type in ('click','purchase','signup') then 'user'
       when event_type = 'error' then 'tool' else 'assistant' end AS role,
  {subj} || ' ' || {pred} || ' ' || {obj} || '.' AS text,
  case when event_type = 'error' then 'debugger' end AS tool,
  ts
FROM {events_rel}
"""


def relations_df(spark: SparkSession) -> DataFrame:
    """The broadcast relation vocabulary (reference Relations, common/Relation.kt:36)."""
    rows = [(i, p, st, ot) for i, (p, st, ot) in enumerate(RELATIONS)]
    return local_frame(
        spark, rows, "priority int, predicate string, subject_type string, object_type string"
    )


def relations_cte() -> str:
    vals = ", ".join(
        f"({i}, '{p}', {('NULL' if st is None else repr(st))}, {('NULL' if ot is None else repr(ot))})"
        for i, (p, st, ot) in enumerate(RELATIONS)
    )
    return (
        "SELECT * FROM (VALUES " + vals + ") AS r(priority, predicate, subject_type, object_type)"
    )


# --- Golden fixtures (reference TCK) -------------------------------------------------

_T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def canonical_flow_rows() -> list[tuple]:
    """conv 'canonical-flow': Alice->Bob->Carol->Dana 'works with' chain."""
    texts = [
        "Alice works with Bob.",
        "Bob works with Carol.",
        "Carol works with Dana.",
    ]
    return [
        ("canonical-flow", i, "user", t, None, _T0.replace(minute=i))
        for i, t in enumerate(texts)
    ]


# Pinned per-sentence (confidence, decay) from CanonicalFlowFixtures.kt:104-126:
# the third proposition is the decay candidate (0.2 conf, 0.9 decay).
CANONICAL_FLOW_CONF = {
    "Alice works with Bob.": (0.95, 0.0),
    "Bob works with Carol.": (0.95, 0.0),
    "Carol works with Dana.": (0.2, 0.9),
}


def er_fixture_rows() -> list[tuple[str, str, str]]:
    """(surface_form, entity_type, expected_group) — FIXTURES.md §3."""
    return [
        ("Hunter Hordern", "Person", "hunter-hordern"),
        ("Dr. Hunter Hordern", "Person", "hunter-hordern"),
        ("Hordern, Hunter", "Person", "hunter-hordern"),
        ("Lynda M. Coker", "Person", "lynda-coker"),
        ("Coker, Lynda M.", "Person", "lynda-coker"),
        ("Lynda Coker", "Person", "lynda-coker"),
        ("John Smith Jr.", "Person", "john-smith"),
        ("John Smith", "Person", "john-smith"),
        ("Brahms", "Person", "brahms-group"),
        ("Johannes Brahms", "Person", "brahms-group"),
        ("Bo", "Person", "bo-alone"),
        ("Bob Odenkirk", "Person", "odenkirk"),
        ("Katharine Jones", "Person", "katharine"),
        ("Katherine Jones", "Person", "katharine"),
        ("Mark", "Person", "mark-alone"),
        ("Marx", "Person", "marx-alone"),
        ("Mercury", "Person", "mercury-person"),
        ("Mercury", "Planet", "mercury-planet"),
    ]


def make_transcripts(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    from dice_spark.schemas import TRANSCRIPTS

    return spark.createDataFrame(rows, TRANSCRIPTS)
