"""Proposition-level duplicate clustering: findClusters + DuplicateCollectorStrategy.

Ports the last §2.9 pair the entity-level CC didn't cover:

* ``find_clusters`` — PropositionRepository.findClusters
  (/root/reference/dice/src/main/kotlin/com/embabel/dice/proposition/store/
  InMemoryPropositionRepository.kt:129-152): pairwise embedding cosine >=
  threshold (0.7) among candidates, anchor ``id < other.id`` dedup, top-K=10
  neighbours per anchor by similarity.
* ``duplicate_collector`` — DuplicateCollectorStrategy
  (/root/reference/dice/src/main/kotlin/com/embabel/dice/projection/memory/
  DuplicateCollectorStrategy.kt:47-115): overlapping clusters union-find into
  components (UnionFind :117-146); ONE survivor per component = max by
  (effectiveConfidence, reinforceCount, id) (:104-106); every other member is
  marked ``Duplicate(survivorId)``.

Spark shape: the pair space is blocked on (context_id, predicate) — duplicate
propositions state the same relation, and the reference's caller already
scopes candidates to one context — so the join is an equi-join per block,
never a cross join. Within a hot block the exact-cosine pair cost is
O(block²); the scale path swaps this stage for the banded MinHash-LSH
self-join in operators/dedup.py (same output contract), exactly as the
document near-dup family does. Union-find is the shared min-label-propagation
``connected_components`` (vocabulary-sized input: distinct proposition ids
that appear in at least one qualifying pair).

The embedding is the deterministic letter-count stand-in over canonicalized
text (linking.char_embedding ∘ textfns.canonicalize_text) — the same
convention as the linking VECTOR tier and the revision vector fast path, and
exactly reproducible by the DuckDB oracle (list_cosine_similarity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dice_spark.functions.textfns import canonicalize_text
from dice_spark.operators.canonicalize import connected_components
from dice_spark.operators.dedup import dot_expr, norm_expr
from dice_spark.operators.linking import char_embedding

# The reference's floor is 0.7 on real text embeddings
# (InMemoryPropositionRepository.kt:137). The deterministic letter-count
# stand-in is far less discriminative — formulaic same-predicate sentences
# land above 0.7 almost universally, collapsing every block into one cluster
# and exploding the post-threshold pair count — so the default floor here is
# 0.95; a deployment with a real embedding column passes threshold=0.7.
CLUSTER_COSINE = 0.95
CLUSTER_TOP_K = 10  # :142 topK neighbours per anchor


def find_clusters(
    props: DataFrame,
    threshold: float = CLUSTER_COSINE,
    top_k: int = CLUSTER_TOP_K,
    id_col: str = "prop_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("context_id", "predicate"),
    use_lsh: bool = False,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Similar-proposition pairs: (anchor_id, other_id, cosine).

    anchor_id < other_id (the reference's anchor dedup), cosine >= threshold,
    at most ``top_k`` neighbours per anchor ordered by (cosine desc, other_id
    asc — deterministic tie-break for the reference's stable sort).

    ``use_lsh=False`` (reference-exact shape): candidate blocking is the
    (context, predicate) equi-keys PLUS a canonical-text length band
    (floor(len/8)) — near-identical texts have near-identical lengths, and
    the band bounds per-block pair cost the same way the fuzzy linking tier's
    length band does. O(block²) inside a hot (context, predicate) block.

    ``use_lsh=True`` (the 100 TB path): candidate pairs come from the banded
    MinHash-LSH self-join over canonical-text shingles — the same
    explode -> groupBy-min -> band-bucket-join shape as
    ``dedup.minhash_lsh_pairs``, with the block key folded into the band key
    so candidates never cross (context, predicate) blocks. Exact cosine runs
    only within candidates; pair cost is bucket-bounded instead of
    block-squared. Recall follows the (bands, rows) S-curve — near-identical
    texts (shingle Jaccard ~1) collide with probability ~1.
    """
    # Norms are hoisted to the row side: one interpreted-HOF pass per PAIR
    # (the dot) instead of three — bit-identical to cosine_expr (same folds).
    base = (
        props.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("pid"),
            canonicalize_text(text_col).alias("canon"),
        )
        .withColumn("emb", char_embedding(F.col("canon")))
        .withColumn("_nrm", norm_expr(F.col("emb")))
    )
    if use_lsh:
        from dice_spark.operators.dedup import minhash_signatures_df

        # Embeddings + canon are read by the signature branch AND both pair
        # sides — materialize the vocabulary-sized row table once.
        base = base.localCheckpoint(eager=False)
        rows = n_hashes // bands
        sig = minhash_signatures_df(
            base.select("pid", "canon"), n_hashes, shingle_n,
            text_col="canon", id_col="pid",
        )
        bkey = F.md5(F.concat_ws("|", *[F.col(c) for c in block_cols]))
        bmap = base.select(F.col("pid").alias("_bpid"), bkey.alias("_bkey"))
        banded = (
            sig.join(bmap, sig.doc_id == bmap._bpid)
            .select(
                F.col("doc_id").alias("pid"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(bi).alias("band"),
                                F.md5(
                                    F.concat_ws(
                                        "|",
                                        F.col("_bkey"),
                                        *[F.col(f"h{bi * rows + r}") for r in range(rows)],
                                    )
                                ).alias("key"),
                            )
                            for bi in range(bands)
                        ]
                    )
                ).alias("bk"),
            )
            .select("pid", F.col("bk.band"), F.col("bk.key"))
            .localCheckpoint(eager=False)
        )
        ca, cb = banded.alias("ca"), banded.alias("cb")
        cand = (
            ca.join(
                cb,
                (F.col("ca.band") == F.col("cb.band"))
                & (F.col("ca.key") == F.col("cb.key"))
                & (F.col("ca.pid") < F.col("cb.pid")),
            )
            .select(F.col("ca.pid").alias("a_pid"), F.col("cb.pid").alias("b_pid"))
            .distinct()
        )
        ea = base.select(
            F.col("pid").alias("a_pid"), F.col("emb").alias("a_emb"),
            F.col("_nrm").alias("a_nrm"),
        )
        eb = base.select(
            F.col("pid").alias("b_pid"), F.col("emb").alias("b_emb"),
            F.col("_nrm").alias("b_nrm"),
        )
        pairs = (
            cand.join(ea, "a_pid")
            .join(eb, "b_pid")
            .select(
                F.col("a_pid").alias("anchor_id"),
                F.col("b_pid").alias("other_id"),
                F.round(
                    dot_expr(F.col("a_emb"), F.col("b_emb"))
                    / (F.col("a_nrm") * F.col("b_nrm")),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    else:
        base = base.withColumn("_band", F.floor(F.length("canon") / 8))
        a = base.alias("a")
        b = base.alias("b")
        cond = (F.col("a.pid") < F.col("b.pid")) & (F.col("a._band") == F.col("b._band"))
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        pairs = (
            a.join(b, cond)
            .select(
                F.col("a.pid").alias("anchor_id"),
                F.col("b.pid").alias("other_id"),
                F.round(
                    dot_expr(F.col("a.emb"), F.col("b.emb"))
                    / (F.col("a._nrm") * F.col("b._nrm")),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("other_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .drop("rank")
    )


def duplicate_collector(
    props: DataFrame,
    pairs: DataFrame | None = None,
    eff_conf: Column | None = None,
    id_col: str = "prop_id",
    use_lsh: bool = False,
) -> DataFrame:
    """Mark duplicate propositions: one survivor per similarity component.

    Returns one row per proposition that belongs to a multi-member component:
    (prop_id, component, survivor_id, cluster_size, mark) where mark is
    SURVIVOR or DUPLICATE. Propositions in no qualifying pair are untouched
    (the reference only marks members of overlapping clusters).

    ``eff_conf`` defaults to the raw confidence column — the pipeline's batch
    propositions carry no temporal metadata, so effectiveConfidence(now)
    degenerates to confidence; callers with a durable store pass
    ``effective_confidence(...)`` from functions.decay.
    """
    if pairs is None:
        pairs = find_clusters(props, id_col=id_col, use_lsh=use_lsh)
    score = eff_conf if eff_conf is not None else F.col("confidence")
    edges = pairs.select(F.col("anchor_id").alias("a"), F.col("other_id").alias("b"))
    members = (
        edges.select(F.col("a").alias("pid"))
        .unionByName(edges.select(F.col("b").alias("pid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # no width probe: the CC gate sizes itself (driver union-find below the
    # edge ceiling, AQE-coalesced distributed loop above)
    comps = connected_components(members, edges, node_col="pid")
    scored = (
        props.select(
            F.col(id_col).alias("pid"),
            score.alias("_score"),
            F.col("reinforce_count").alias("_reinforce"),
        )
        .join(comps, "pid")
    )
    # Survivor = max by (effectiveConfidence, reinforceCount, id) —
    # DuplicateCollectorStrategy.kt:104-106 (maxWith compareBy, so the
    # greatest id wins remaining ties).
    # Survivor and size come from windows sharing the rank window's component
    # partitioning — Catalyst plans ONE exchange for all three instead of the
    # previous rank + two self-joins (2 extra shuffles of the member set).
    w = Window.partitionBy("component").orderBy(
        F.desc("_score"), F.desc("_reinforce"), F.desc("pid")
    )
    w_all = Window.partitionBy("component")
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    return ranked.select(
        F.col("pid").alias(id_col),
        "component",
        F.max(F.when(F.col("_rn") == 1, F.col("pid"))).over(w_all).alias("survivor_id"),
        F.count(F.lit(1)).over(w_all).alias("cluster_size"),
        F.when(F.col("_rn") == 1, F.lit("SURVIVOR"))
        .otherwise(F.lit("DUPLICATE"))
        .alias("mark"),
    )
