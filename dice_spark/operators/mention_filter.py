"""Mention validation rules: span-quality gates before entity creation.

Ports the MentionValidationRule family (/root/reference/dice/src/main/kotlin/
com/embabel/dice/common/validation/MentionValidationRule.kt) and the
MentionFilter contract (common/filter/MentionFilter.kt): low-quality spans
(blank, vague demonstratives, over-long, generic type references) are rejected
BEFORE they create entities — without this every junk span becomes a KG node.
Rule table: reference README.md:355-366.

Each rule is a pure column predicate (whole-stage codegen, no UDF); a filter is
a fail-fast ordered rule list. ``rejection_reason`` yields the first failing
rule's reason (null = valid), mirroring AllOf's fail-fast semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VAGUE_STARTERS = ["this", "that", "these", "those", "the", "an", "a"]


@dataclass
class NotBlank:
    """Rejects empty / whitespace-only mentions."""

    def invalid(self, span: Column) -> Column:
        return F.length(F.trim(span)) == 0

    reason = "blank"


@dataclass
class NoVagueReferences:
    """Rejects spans starting with demonstratives/articles ("this company")."""

    starters: list[str] = field(default_factory=lambda: list(VAGUE_STARTERS))

    def invalid(self, span: Column) -> Column:
        low = F.lower(F.trim(span))
        cond = F.lit(False)
        for s in self.starters:
            s = s.strip().lower()
            cond = cond | (low == s) | low.startswith(s + " ")
        return cond

    reason = "vague_reference"


@dataclass
class LengthConstraint:
    """Enforces min/max span length in characters (None = unbounded)."""

    min_length: int | None = None
    max_length: int | None = None

    def invalid(self, span: Column) -> Column:
        n = F.length(span)
        cond = F.lit(False)
        if self.min_length is not None:
            cond = cond | (n < self.min_length)
        if self.max_length is not None:
            cond = cond | (n > self.max_length)
        return cond

    reason = "length"


@dataclass
class MinWordCount:
    """Requires at least ``min_words`` whitespace-separated words."""

    min_words: int = 2

    def invalid(self, span: Column) -> Column:
        words = F.size(F.filter(F.split(F.trim(span), r"\s+"), lambda w: F.length(w) > 0))
        return words < self.min_words

    reason = "word_count"


@dataclass
class PatternConstraint:
    """Span must fully match ``pattern``."""

    pattern: str = ".*"

    def invalid(self, span: Column) -> Column:
        return ~span.rlike(f"^(?:{self.pattern})$")

    reason = "pattern"


@dataclass
class EntityTypeGuard:
    """Rejects generic type-noun spans ("the person", "a company")."""

    invalid_patterns: list[str] = field(default_factory=list)

    def invalid(self, span: Column) -> Column:
        low = F.lower(F.trim(span))
        cond = F.lit(False)
        for p in self.invalid_patterns:
            p = p.strip().lower()
            cond = cond | (low == p) | low.startswith(p + " ")
        return cond

    reason = "generic_reference"


# The default composite: the rules the reference README recommends for
# unconstrained mention streams (NotBlank + vague-reference + 150-char cap).
DEFAULT_RULES = [NotBlank(), NoVagueReferences(), LengthConstraint(max_length=150)]


def rejection_reason(span: Column | str, rules: list | None = None) -> Column:
    """First failing rule's reason, null when the span passes every rule."""
    s = F.col(span) if isinstance(span, str) else span
    rules = DEFAULT_RULES if rules is None else rules
    out = F.lit(None).cast("string")
    for rule in reversed(rules):  # build when-chain so earlier rules win
        out = F.when(rule.invalid(s), F.lit(rule.reason)).otherwise(out)
    return out


def filter_mentions(
    mentions: DataFrame, span_col: str = "span", rules: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """(valid, rejected-with-reason) split of a mention relation."""
    tagged = mentions.withColumn("reject_reason", rejection_reason(span_col, rules))
    return (
        tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
        tagged.filter(F.col("reject_reason").isNotNull()),
    )


def filter_mention_groups(
    counted: DataFrame, span_col: str = "span", rules: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """filter_mentions over a pre-aggregated distinct-form relation.

    Rejection depends only on the span text, so the split commutes with the
    (span, type) count aggregation: filtering the counted vocabulary is
    value-identical to filtering every occurrence, but the when-chain (2
    string ops per vague pattern) runs once per DISTINCT form instead of
    once per mention occurrence — at 10^12 occurrences that is the
    difference between vocabulary-sized and corpus-sized work (measured 5.7s
    per pass over 17M occurrences at local[8], ~0 over the 286-form
    vocabulary; the pipeline recomputes the relation ~3x per run).
    Rejected rows keep their occurrence count ``n``."""
    return filter_mentions(counted, span_col, rules)
