"""ExtractionPerspective role scoping (LlmPropositionExtractor.kt:46-56):
USER keeps only user-turn facts, AGENT only assistant-turn facts, ALL is the
backward-compatible default. Each scope is pinned to explicit rows; the
oracle's ``extraction_perspective`` query covers USER only."""

from __future__ import annotations

import pytest

from dice_spark.operators.assembly import assemble_windows, split_turns
from dice_spark.operators.extraction import extract_triples_udf, scope_to_perspective
from dice_spark.synth import _T0, make_transcripts

# (subj_span, predicate, obj_span) of every sentence in _turns; a scope keeps
# the rows whose subject spoke in one of its roles.
ROWS = [
    ("Alice", "works with", "Bob"),
    ("Carol", "mentors", "Dana"),
    ("Erin", "reports to", "Frank"),
    ("Gail", "works with", "Hank"),
]


def _turns(spark):
    rows = [
        ("conv-p", 0, "user", "Alice works with Bob.", None, _T0),
        ("conv-p", 1, "assistant", "Carol mentors Dana.", None, _T0.replace(minute=1)),
        ("conv-p", 2, "user", "Erin reports to Frank.", None, _T0.replace(minute=2)),
        ("conv-p", 3, "tool", "Gail works with Hank.", None, _T0.replace(minute=3)),
    ]
    return split_turns(assemble_windows(make_transcripts(spark, rows)))


@pytest.mark.parametrize("perspective,subjects", [
    ("ALL", {"Alice", "Carol", "Erin", "Gail"}),
    ("USER", {"Alice", "Erin"}),
    ("AGENT", {"Carol"}),
])
def test_perspective_scopes_roles(spark, perspective, subjects):
    got = extract_triples_udf(_turns(spark), perspective=perspective)
    rows = got.select("subj_span", "predicate", "obj_span").collect()
    assert sorted(map(tuple, rows)) == [r for r in ROWS if r[0] in subjects]


def test_unknown_perspective_raises(spark):
    with pytest.raises(ValueError, match="perspective"):
        scope_to_perspective(_turns(spark), "NARRATOR")
