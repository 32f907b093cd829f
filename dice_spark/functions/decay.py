"""GUM-paper exponential confidence decay as a single column expression.

Semantics match Proposition.effectiveConfidenceAt
(/root/reference/dice/src/main/kotlin/com/embabel/dice/proposition/Proposition.kt:314-350):

- invalidated_at <= as_of              -> 0.0
- valid_from set, not current at as_of -> 0.0
- valid_from set, CLOSED window        -> confidence (never decays)
- valid_from set, OPEN window          -> confidence * exp(-decay * k * age(valid_from))
- otherwise                            -> confidence * exp(-decay * k * age(content_revised))

Age is WHOLE days (Duration.toDays truncates), clamped >= 0 — no decay for
future anchors. ``as_of`` is always an explicit parameter: the reference calls
Instant.now() throughout, we thread a literal through for determinism.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECAY_K = 2.0  # GUM-paper default multiplier (Proposition.kt:310)


def _age_days(anchor: Column, as_of: Column) -> Column:
    # Duration.between().toDays() truncation: whole seconds / 86400, floored
    # toward zero, then clamped to >= 0. The intermediate cast("timestamp")
    # makes this work for TIMESTAMP_NTZ parquet columns too (session tz UTC).
    secs = as_of.cast("timestamp").cast("long") - anchor.cast("timestamp").cast("long")
    return F.greatest(F.floor(secs / F.lit(86400)).cast("double"), F.lit(0.0))


def effective_confidence(
    confidence: Column | str = "confidence",
    decay: Column | str = "decay",
    as_of: Column | None = None,
    content_revised: Column | str = "content_revised",
    valid_from: Column | str = "valid_from",
    valid_to: Column | str = "valid_to",
    invalidated_at: Column | str = "invalidated_at",
    k: float = DECAY_K,
) -> Column:
    conf = F.col(confidence) if isinstance(confidence, str) else confidence
    dec = F.col(decay) if isinstance(decay, str) else decay
    cr = F.col(content_revised) if isinstance(content_revised, str) else content_revised
    vf = F.col(valid_from) if isinstance(valid_from, str) else valid_from
    vt = F.col(valid_to) if isinstance(valid_to, str) else valid_to
    inv = F.col(invalidated_at) if isinstance(invalidated_at, str) else invalidated_at
    if as_of is None:
        raise ValueError("as_of must be an explicit timestamp column/literal (determinism)")

    def factor(anchor: Column) -> Column:
        return F.exp(-dec * F.lit(k) * _age_days(anchor, as_of))

    # isCurrentAsOf (TemporalMetadata.kt:70-75): validFrom <= at AND
    # at < validTo (STRICT — "!at.isBefore(validTo)" fails currency at the
    # exact validTo instant).
    is_current = (vf <= as_of) & (vt.isNull() | (as_of < vt))
    return (
        F.when(inv.isNotNull() & (inv <= as_of), F.lit(0.0))
        .when(vf.isNotNull() & ~is_current, F.lit(0.0))
        .when(vf.isNotNull() & vt.isNotNull(), conf)
        .when(vf.isNotNull(), conf * factor(vf))
        .otherwise(conf * factor(cr))
    )
