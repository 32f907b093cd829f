"""Entity linking: the cheapest-first candidate-search ladder, set-oriented.

The reference walks searchers serially per mention with early stop
(EscalatingEntityResolver, /root/reference/dice/src/main/kotlin/com/embabel/dice/
common/resolver/EscalatingEntityResolver.kt:106-237). We compute every tier as
a blocked join over the whole mention batch and coalesce in priority order —
set-oriented early stopping: rows resolved by a cheap tier never reach the
expensive tiers' joins (each tier filters to still-unresolved mentions).

Tier semantics (each accepts only when EXACTLY ONE candidate matches — the
"exactly-one rule", README.md:811-815, enforced with a window count):

  BY_ID      mention's suggested_id exists in the registry
                                                        (ByIdCandidateSearcher)
  EXACT      lower(span) == lower(entity name)          (ByExactNameCandidateSearcher)
  NORMALIZED norm_key(span) == norm_key(name)           (NormalizedNameCandidateSearcher)
  PARTIAL    single word <-> multi-word token, len >= 4 (PartialNameCandidateSearcher)
  FUZZY      levenshtein <= floor(min_len * 0.2), min length 4
                                                        (FuzzyNameCandidateSearcher.kt:45-47,104-130)
  NO_MATCH   -> create new entity, or VETO when the schema forbids creation
               for the type (EscalatingEntityResolver.createNewOrVeto:224-237)

Label compatibility gates every tier: a mention only matches an entity sharing
its type, case-insensitively (InMemoryEntityResolver.isMatch:105-110).

Scale notes: the blocking key (type, norm_key) is Zipfian (head entities) —
``salt`` spreads the mention side S ways and replicates the entity side, on
top of AQE skew-join splitting. The fuzzy tier never cross-joins: candidates
are blocked on (type, first char, length band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dice_spark.functions.normalize import norm_key, normalize_name

LEVELS = ["BY_ID", "EXACT", "NORMALIZED", "PARTIAL", "FUZZY", "VECTOR", "BAKEOFF", "VETOED"]
MIN_PART_LENGTH = 4
MIN_FUZZY_LENGTH = 4
MAX_DISTANCE_RATIO = 0.2
# Vector tier thresholds (VectorCandidateSearcher.kt:39-44): exactly one
# candidate at/above AUTO_ACCEPT resolves confidently; everything at/above
# CANDIDATE_FLOOR goes to the bakeoff seam for arbitration.
AUTO_ACCEPT_COSINE = 0.95
CANDIDATE_COSINE = 0.7
BAKEOFF_ACCEPT = 0.8

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def char_embedding(key) -> "F.Column":
    """26-dim letter-count embedding of a (lowercase) name key.

    The deterministic stand-in for the reference's text-embedding vector
    (VectorCandidateSearcher queries "name summary" against an embedding
    repository): a unigram count vector is a real — if crude — text embedding,
    cheap enough to stay in whole-stage codegen (count of c = len - len minus
    c), and exactly reproducible in the DuckDB oracle. Word-order variants
    ("Nguyen Alice" vs "Alice Nguyen") land at cosine 1.0, which no
    string-distance tier catches.
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.array(
        *[
            (F.length(k) - F.length(F.replace(k, F.lit(c), F.lit("")))).cast("double")
            for c in _LETTERS
        ]
    )


def default_bakeoff_scorer(pairs: DataFrame) -> DataFrame:
    """The batched link-scoring UDF seam (LlmCandidateBakeoff stand-in).

    Input: (span, type_key, m_key, entity_id, e_key) candidate pairs. Output:
    the same keys + score. A real LLM arbiter replaces the body; the contract
    — Arrow-batched pairs in, one score per pair out — is the engine seam.
    The deterministic stand-in recomputes the letter-count cosine in pandas
    (bit-identical to the Spark/DuckDB expression after rounding to 6).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def counts(s: "pd.Series") -> "np.ndarray":
        mat = np.zeros((len(s), len(_LETTERS)), dtype="float64")
        for j, c in enumerate(_LETTERS):
            mat[:, j] = s.str.count(c).to_numpy(dtype="float64")
        return mat

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a, b = counts(pdf["m_key"]), counts(pdf["e_key"])
            dot = (a * b).sum(axis=1)
            denom = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
            out = pdf[["span", "type_key", "entity_id"]].copy()
            with np.errstate(invalid="ignore", divide="ignore"):
                out["score"] = np.round(dot / denom, 6)
            yield out

    return pairs.mapInPandas(
        run, schema="span string, type_key string, entity_id string, score double"
    )


def prepare_mentions(mentions: DataFrame) -> DataFrame:
    """Attach normalization keys to (span, entity_type) mention rows."""
    return mentions.withColumn("norm_name", normalize_name("span")).withColumn(
        "norm_key", norm_key("span")
    ).withColumn("type_key", F.lower(F.col("entity_type")))


def _exactly_one(df: DataFrame, mention_cols: list[str], tier: str) -> DataFrame:
    """Keep candidate rows only for mentions with exactly one candidate."""
    w = Window.partitionBy(*mention_cols)
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") == 1)
        .drop("_n")
        .withColumn("resolution_level", F.lit(tier))
    )


def resolve_against_entities(
    mentions: DataFrame,
    entities: DataFrame,
    salt: int = 8,
    vector_tier: bool = False,
    bakeoff_scorer=None,
    vector_bucket_planes: int | None = 4,
    schema: DataFrame | None = None,
    debug_timings: dict | None = None,
    mention_vec_col: str | None = None,
    entity_vec_col: str | None = None,
    embedding_dim: int | None = None,
) -> DataFrame:
    """Resolve mention surface forms against an existing entity registry.

    mentions: (span, entity_type) [+ carried keys]; entities: (entity_id,
    canonical_name, entity_type). Returns mentions + resolved_id (nullable) +
    resolution_level (EXACT|NORMALIZED|PARTIAL|FUZZY|VECTOR|BAKEOFF|NO_MATCH).

    vector_tier=True appends the embedding escalation after FUZZY
    (VectorCandidateSearcher.kt:39-44): exactly one candidate with cosine >=
    AUTO_ACCEPT_COSINE resolves as VECTOR; otherwise every candidate >=
    CANDIDATE_COSINE goes to the batched link-scoring UDF seam
    (``bakeoff_scorer``, default ``default_bakeoff_scorer``) and the best
    score >= BAKEOFF_ACCEPT resolves as BAKEOFF (entity_id tie-break). Off by
    default: the reference only adds this searcher when an embedding
    repository is configured.

    mention_vec_col / entity_vec_col: names of REAL embedding array columns
    (array<float|double>) on the two relations. When both are set (with
    ``embedding_dim``), the vector tier buckets and scores those vectors —
    the shape VectorCandidateSearcher.kt:39-44 runs against its embedding
    repository — instead of the letter-count stand-in derived from the name
    keys. Same hyperplane-bucket join, same thresholds, same exactly-one
    rule; only the vector source changes.
    """
    def _mat(name: str, df: DataFrame) -> DataFrame:
        # Per-tier attribution hook: eager-materialize each tier and record
        # its wall time. Off (identity) unless the caller passes a dict —
        # production plans stay fully lazy/fused.
        if debug_timings is None:
            return df
        import time as _time

        t0 = _time.monotonic()
        out = df.localCheckpoint(eager=True)
        debug_timings[name] = round(_time.monotonic() - t0, 2)
        return out

    m_all = prepare_mentions(mentions).alias("m")
    # The ladder resolves per surface form: one working row per (span,
    # type_key). Duplicate mention occurrences must not inflate a tier's
    # exactly-one candidate count (two occurrences of "Alice" each joining
    # the single registry row would read as two candidates and wrongly
    # reject). Occurrence-level columns collapse deterministically: a key
    # whose occurrences disagree on suggested_id is ambiguous -> null (it
    # falls through to the name ladder — the exactly-one rule applied to
    # BY_ID); source_text takes the min (any occurrence's context serves the
    # bakeoff compressor). The final join fans the per-key resolution back
    # out to every original occurrence row.
    key_cols = ["span", "type_key", "norm_name", "norm_key"]
    aggs = []
    if "suggested_id" in mentions.columns:
        aggs.append(
            F.when(
                F.count_distinct("suggested_id") == 1, F.max("suggested_id")
            ).alias("suggested_id")
        )
    if "source_text" in mentions.columns:
        aggs.append(F.min("source_text").alias("source_text"))
    if mention_vec_col:
        # any occurrence's vector serves the tier (same surface form -> same
        # embedding in practice); min on the first component keeps it
        # deterministic when they differ
        aggs.append(F.min(mention_vec_col).alias(mention_vec_col))
    if aggs:
        m = m_all.groupBy(*key_cols).agg(*aggs)
    else:
        m = m_all.select(*key_cols).distinct()
    # Every tier (and each tier's unresolved anti-join chain) re-reads this
    # relation; materialize the dedupe once — it is one slim row per distinct
    # surface form, vocabulary-sized. Eager: the tiers join it against
    # relations derived from the same ancestors (AQE zip-partition trap).
    m = m.localCheckpoint(eager=True).alias("m")
    # BY_ID: the extractor's suggested id, verified against the registry
    # (ByIdCandidateSearcher — cheapest tier, runs before any name match).
    # A suggested id absent from the registry is NOT a resolution; the
    # mention falls through to the name ladder like any other. The
    # exactly-one rule applies here like every tier: a mention key carrying
    # two different registry-valid suggested ids is ambiguous — it falls
    # through instead of fanning out duplicate resolutions in the final join
    # (EscalatingEntityResolver's single-candidate acceptance).
    by_id = None
    if "suggested_id" in mentions.columns:
        by_id = _mat("BY_ID", _exactly_one(
            m.filter(F.col("m.suggested_id").isNotNull())
            .join(
                entities.select(F.col("entity_id")),
                F.col("m.suggested_id") == F.col("entity_id"),
            )
            .select("span", "type_key", "entity_id")
            .distinct(),
            ["span", "type_key"],
            "BY_ID",
        ))
        m = m.join(
            by_id.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
        ).alias("m")
    ents = (
        entities.withColumn("e_norm_name", normalize_name("canonical_name"))
        .withColumn("e_norm_key", norm_key("canonical_name"))
        .withColumn("e_type_key", F.lower("entity_type"))
        .select(
            "entity_id", F.col("canonical_name").alias("e_name"),
            "e_norm_name", "e_norm_key", "e_type_key",
            *([entity_vec_col] if entity_vec_col else []),
        )
    ).alias("e")
    mention_keys = ["span", "type_key"]

    # EXACT: case-insensitive raw-name equality. Salted to defuse head-entity
    # skew: mention side gets a random-free deterministic salt, entity side is
    # replicated S ways so the join key (name, salt) spreads hot names.
    msalt = F.pmod(F.xxhash64("m.span", F.col("m.norm_key")), F.lit(salt))
    esalt_df = ents.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    exact = _mat("EXACT", _exactly_one(
        m.join(
            esalt_df.alias("e"),
            (F.lower(F.col("m.span")) == F.lower(F.col("e.e_name")))
            & (F.col("m.type_key") == F.col("e.e_type_key"))
            & (msalt == F.col("e._salt")),
        ),
        mention_keys,
        "EXACT",
    ))

    unresolved_1 = m.join(
        exact.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
    ).alias("m")
    normalized = _mat("NORMALIZED", _exactly_one(
        unresolved_1.join(
            ents,
            (F.col("m.norm_key") == F.col("e.e_norm_key"))
            & (F.col("m.type_key") == F.col("e.e_type_key")),
        ),
        mention_keys,
        "NORMALIZED",
    ))

    unresolved_2 = unresolved_1.join(
        normalized.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
    ).alias("m")
    # PARTIAL: single-word mention <-> token of multi-word entity name (or the
    # symmetric case), token length >= 4, exact token equality.
    e_tokens = ents.select(
        "entity_id", "e_name", "e_norm_key", "e_type_key",
        F.explode(F.split("e_norm_key", r"\s+")).alias("e_token"),
        F.size(F.split("e_norm_key", r"\s+")).alias("e_nwords"),
    ).filter(F.length("e_token") >= MIN_PART_LENGTH)
    m_single = unresolved_2.filter(
        (~F.col("m.norm_key").contains(" ")) & (F.length("m.norm_key") >= MIN_PART_LENGTH)
    )
    partial_a = m_single.join(
        e_tokens.alias("e"),
        (F.col("m.norm_key") == F.col("e.e_token"))
        & (F.col("m.type_key") == F.col("e.e_type_key"))
        & (F.col("e.e_nwords") > 1),
    )
    m_tokens = unresolved_2.filter(F.col("m.norm_key").contains(" ")).withColumn(
        "m_token", F.explode(F.split("m.norm_key", r"\s+"))
    ).filter(F.length("m_token") >= MIN_PART_LENGTH)
    partial_b = m_tokens.join(
        ents,
        (F.col("m_token") == F.col("e.e_norm_key"))
        & (F.col("m.type_key") == F.col("e.e_type_key"))
        & (~F.col("e.e_norm_key").contains(" ")),
    ).drop("m_token")
    partial = _mat("PARTIAL", _exactly_one(
        partial_a.select("m.*", "e.entity_id").unionByName(partial_b.select("m.*", "e.entity_id")).distinct(),
        mention_keys,
        "PARTIAL",
    ))

    unresolved_3 = unresolved_2.join(
        partial.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
    ).alias("m")
    # FUZZY: blocked on (type, first char, length band) — never a cross join.
    band = lambda c: F.floor(F.length(c) / 4)  # noqa: E731
    fuzzy_pairs = unresolved_3.filter(F.length("m.norm_key") >= MIN_FUZZY_LENGTH).join(
        ents.filter(F.length("e.e_norm_key") >= MIN_FUZZY_LENGTH),
        (F.col("m.type_key") == F.col("e.e_type_key"))
        & (F.substring(F.col("m.norm_key"), 1, 1) == F.substring(F.col("e.e_norm_key"), 1, 1))
        & (band(F.col("m.norm_key")) == band(F.col("e.e_norm_key"))),
    )
    min_len = F.least(F.length("m.norm_key"), F.length("e.e_norm_key"))
    fuzzy = _mat("FUZZY", _exactly_one(
        fuzzy_pairs.filter(
            F.levenshtein(F.col("m.norm_key"), F.col("e.e_norm_key"))
            <= F.floor(min_len * MAX_DISTANCE_RATIO)
        ),
        mention_keys,
        "FUZZY",
    ))

    resolved = (
        exact.select("span", "type_key", "entity_id", "resolution_level")
        .unionByName(normalized.select("span", "type_key", "entity_id", "resolution_level"))
        .unionByName(partial.select("span", "type_key", "entity_id", "resolution_level"))
        .unionByName(fuzzy.select("span", "type_key", "entity_id", "resolution_level"))
    )

    if vector_tier:
        # Materialize the name-tier union ONCE before the vector tier. The
        # vector branch's candidate join, the bakeoff branch and the final
        # resolution join all sit downstream of the four name tiers; left
        # lazy, the whole tier chain (4 joins + 4 exactly-one windows + the
        # anti-join ladder) re-executes in the auto-checkpoint job AND again
        # in the final action (~3x, measured ~17s -> ~8s on the bench probe
        # set). The union is one slim row per name-resolved surface form —
        # vocabulary-bounded — and checkpointing it also collapses
        # unresolved_4 from the four chained anti-joins to a single anti-join
        # against the materialized union (the same set, since the union IS
        # exact+normalized+partial+fuzzy). Without the vector tier the chain
        # runs exactly once in the final action, so laziness stays optimal
        # there. Eager for the usual AQE zip-partition reason.
        resolved = resolved.localCheckpoint(eager=True)
        unresolved_4 = m.join(
            resolved.select("span", "type_key").distinct(),
            ["span", "type_key"],
            "left_anti",
        ).alias("m")
        # Candidate generation: cosine of letter-count embeddings, blocked on
        # (type, hyperplane bucket). Type alone approaches mentions x entities
        # inside a hot type; the sign-LSH bucket bounds the join at
        # entities-per-bucket (2^planes buckets per type). Bucketing is
        # approximate for mid-range candidates (a pair at angle θ shares all
        # sign bits with probability (1-θ/π)^planes) — but exact for the
        # word-reorder case this tier exists for: permuted names have
        # IDENTICAL letter-count embeddings, hence identical buckets.
        # vector_bucket_planes=None restores the exhaustive type-only join.
        use_real_vectors = bool(mention_vec_col and entity_vec_col)
        if use_real_vectors and embedding_dim is None:
            raise ValueError("embedding_dim is required with mention/entity vec cols")
        if use_real_vectors:
            m_vec = F.col(f"m.{mention_vec_col}")
            e_vec = F.col(f"e.{entity_vec_col}")
            vec_dim = embedding_dim
        else:
            m_vec = char_embedding(F.col("m.norm_key"))
            e_vec = char_embedding(F.col("e.e_norm_key"))
            vec_dim = len(_LETTERS)
        cand_cond = F.col("m.type_key") == F.col("e.e_type_key")
        if vector_bucket_planes:
            from dice_spark.operators.dedup import hyperplane_bucket, hyperplane_planes

            planes = hyperplane_planes(vec_dim, vector_bucket_planes, seed=42)
            cand_cond = cand_cond & (
                hyperplane_bucket(m_vec, planes)
                == hyperplane_bucket(e_vec, planes)
            )
        from dice_spark.operators.dedup import cosine_expr

        cos = F.round(cosine_expr(m_vec, e_vec), 6)
        cand = (
            unresolved_4.join(ents, cand_cond)
            .withColumn("_cos", cos)
            .filter(F.col("_cos") >= CANDIDATE_COSINE)
            # Cache, not localCheckpoint: both the auto branch and the
            # bakeoff branch re-read this, but checkpointing this plan under
            # AQE trips a zip-partition mismatch (SMJ over an RDD that pins a
            # stale partition count); the columnar cache has no such claim.
            .cache()
        )
        if debug_timings is not None:
            import time as _time

            t0 = _time.monotonic()
            cand.count()  # populate the cache under the timer
            debug_timings["VECTOR_candidates"] = round(_time.monotonic() - t0, 2)
        # Materialize the two relations derived from the cached candidates (a
        # few slim columns each) so the cache can be released below instead of
        # pinning executor memory for the session's lifetime. Only THESE two
        # read cand — checkpointing them (not the whole resolved union, which
        # would serialize every name tier into an extra mid-plan job) keeps
        # the cheap tiers lazy and fused into the final join. Eager, because
        # a lazy checkpoint would re-open the AQE zip-partition trap.
        auto = _mat("VECTOR_auto", _exactly_one(
            cand.filter(F.col("_cos") >= AUTO_ACCEPT_COSINE), mention_keys, "VECTOR"
        ).drop("_cos"))
        auto = auto.select(
            "span", "type_key", "entity_id", "resolution_level"
        ).localCheckpoint(eager=True)
        resolved = resolved.unionByName(auto)
        # Everything else above the floor goes to the bakeoff seam. When the
        # mentions carry a source_text column, each pair also gets a
        # ``context`` column: the ContextCompressor output the reference
        # computes right before its LLM resolution call
        # (EscalatingEntityResolver.kt:183, ContextCompressor.kt) — snippets
        # around the mention instead of the whole chunk. Compression runs on
        # the already-small bakeoff pair set (post-blocking, post-floor), on
        # the same Arrow seam as the scorer itself.
        bakeoff_cols = [
            F.col("span"),
            F.col("type_key"),
            F.col("m.norm_key").alias("m_key"),
            F.col("entity_id"),
            F.col("e.e_norm_key").alias("e_key"),
        ]
        if "source_text" in mentions.columns:
            from dice_spark.functions.compress import compress_context

            bakeoff_cols.append(
                compress_context(F.col("m.source_text"), F.col("span")).alias("context")
            )
        to_bakeoff = cand.join(
            auto.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
        ).select(*bakeoff_cols)
        scorer = bakeoff_scorer if bakeoff_scorer is not None else default_bakeoff_scorer
        scored = scorer(to_bakeoff)
        w = Window.partitionBy("span", "type_key").orderBy(
            F.desc("score"), F.asc("entity_id")
        )
        best = _mat("BAKEOFF", (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("score") >= BAKEOFF_ACCEPT))
            .select("span", "type_key", "entity_id", F.lit("BAKEOFF").alias("resolution_level"))
        )).localCheckpoint(eager=True)
        resolved = resolved.unionByName(best)
        cand.unpersist()
    if by_id is not None:
        resolved = resolved.unionByName(
            by_id.select("span", "type_key", "entity_id", "resolution_level")
        )
    out = (
        m_all.join(resolved, ["span", "type_key"], "left")
        .withColumn(
            "resolution_level", F.coalesce("resolution_level", F.lit("NO_MATCH"))
        )
        .withColumnRenamed("entity_id", "resolved_id")
    )
    if schema is not None:
        # Creation veto (EscalatingEntityResolver.createNewOrVeto,
        # EscalatingEntityResolver.kt:224-237): when every tier fails and the
        # schema declares the mention's type closed (creationPermitted=false),
        # the mention is VETOED — no entity may be minted for it. A type
        # absent from the schema defaults to creation permitted. The schema
        # is a tiny broadcast, zero shuffle.
        closed = F.broadcast(
            schema.select(
                F.lower("entity_type").alias("type_key"),
                F.col("creation_permitted").alias("_cp"),
            )
        )
        out = (
            out.join(closed, "type_key", "left")
            .withColumn(
                "resolution_level",
                F.when(
                    (F.col("resolution_level") == "NO_MATCH") & (F.col("_cp") == False),  # noqa: E712
                    F.lit("VETOED"),
                ).otherwise(F.col("resolution_level")),
            )
            .drop("_cp")
        )
    return out


def known_entity_fast_path(
    mentions: DataFrame,
    known_entities: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Broadcast fast path against a curated known-entity list
    (common/resolver/KnownEntityResolver.kt): mentions whose normalized name
    matches a known entity resolve immediately, everything else delegates to
    the escalation ladder. The known list is small by definition (head
    entities like "the user") — broadcast join, zero shuffle on the mention
    side, which defuses exactly the Zipfian hot key the salted ladder join
    otherwise has to absorb.

    known_entities: (entity_id, canonical_name, labels array<string>).
    Returns (resolved, remaining): resolved carries resolved_id and
    resolution_level KNOWN_REFERENCE (known labels already cover the
    mention's type — externally managed, nothing to update) or KNOWN_WIDENED
    (the mention's type widens the known label set, reference merges labels
    rather than forking a duplicate). A name matching several known entities
    prefers one whose labels cover the type, then min entity_id — the
    reference's iteration-order preference made deterministic.
    """
    m = prepare_mentions(mentions)
    k = F.broadcast(
        known_entities.select(
            F.col("entity_id").alias("k_id"),
            norm_key("canonical_name").alias("k_key"),
            F.transform(F.col("labels"), F.lower).alias("k_labels"),
        )
    )
    cand = m.join(k, m.norm_key == k.k_key, "left")
    covered = F.array_contains(F.col("k_labels"), F.col("type_key"))
    w = Window.partitionBy("span", "type_key").orderBy(
        F.desc(covered.cast("int")), F.asc("k_id")
    )
    picked = (
        cand.filter(F.col("k_id").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "resolution_level",
            F.when(covered, "KNOWN_REFERENCE").otherwise("KNOWN_WIDENED"),
        )
        .withColumnRenamed("k_id", "resolved_id")
        .drop("k_key", "k_labels")
    )
    remaining = m.join(
        picked.select("span", "type_key").distinct(), ["span", "type_key"], "left_anti"
    )
    return picked, remaining


def resolution_counters(resolved: DataFrame) -> DataFrame:
    """Per-level counters (the reference logs these per resolution run)."""
    return resolved.groupBy("resolution_level").agg(F.count(F.lit(1)).alias("n")).orderBy("resolution_level")
