"""Canonicalization: cross-chunk entity identity without a serial resolver.

The reference guarantees later chunks see earlier chunks' entities by sharing
one mutable InMemoryEntityResolver on a single thread
(PropositionPipeline.kt:167-176; InMemoryEntityResolver.kt:50-171 — exact ->
normalized -> partial -> fuzzy vs remembered entities, label-compatibility
gated). The set-oriented replacement (SURVEY.md §2.5): generate match edges
between distinct mention keys with the same tier rules, then run
connected-components so every chunk in the batch agrees on identity; the
observable outcome (same resolved groups) matches the reference, iteration
order does not exist.

Survivor/canonical-name selection per component ports
DefaultCanonicalNameSelector.score (common/support/DefaultCanonicalNameSelector.kt:26-67)
with deterministic tie-breaks.

Scale notes: nodes are DISTINCT (type, norm_key) — cardinality is entity
vocabulary, orders of magnitude below mention count. Fuzzy pair generation is
blocked (prefix+band by default, MinHash-LSH shingle blocking as the scale
path) — never a cross join. CC takes the shared driver-or-distributed gate
(operators/adaptive.py): a driver union-find over the blocked edge list at or
below its row ceiling, else min-id propagation with pointer jumping and lazy
localCheckpoints; name-similarity clusters have tiny diameter so the loop
converges in a handful of iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dice_spark.functions.normalize import norm_key, normalize_name
from dice_spark.functions.textfns import canonical_name_score, mint_entity_id
from dice_spark.operators import adaptive
from dice_spark.operators.linking import (
    MAX_DISTANCE_RATIO,
    MIN_FUZZY_LENGTH,
    MIN_PART_LENGTH,
)


def mention_nodes(
    mentions: DataFrame,
    context_id: str,
    span_col: str = "span",
    type_col: str = "entity_type",
    pre_counted: bool = False,
) -> DataFrame:
    """Distinct (type, norm_key) nodes with aggregated surface forms.

    node_id is content-derived (deterministic across reruns and parallelism
    levels — SURVEY.md §2.5 "new-entity minting").

    ``pre_counted``: the input is already the (span, entity_type, n)
    vocabulary (a caller that filtered at group level passes its counted
    relation straight through — no second corpus aggregation).
    """
    # Aggregate raw surface forms FIRST: the normalize regex chain then runs
    # once per distinct (span, type) — vocabulary cardinality — instead of
    # once per mention occurrence (10^12 at design scale). Mirrors the
    # reference's MentionKey dedup-before-resolution.
    if pre_counted:
        counted = mentions.select(
            F.col(span_col).alias("span"), F.col(type_col).alias("entity_type"), "n"
        )
    else:
        counted = mentions.groupBy(
            F.col(span_col).alias("span"), F.col(type_col).alias("entity_type")
        ).agg(F.count(F.lit(1)).alias("n"))
    prepared = counted.select(
        "span",
        "entity_type",
        "n",
        normalize_name("span").alias("norm_name"),
        norm_key("span").alias("norm_key"),
        F.lower(F.col("entity_type")).alias("type_key"),
    )
    return (
        prepared.groupBy("type_key", "norm_key")
        .agg(
            F.first("entity_type").alias("entity_type"),
            F.array_sort(F.collect_set("span")).alias("surface_forms"),
            F.array_sort(F.collect_set("norm_name")).alias("norm_names"),
            F.sum("n").alias("n_mentions"),
        )
        .withColumn("node_id", mint_entity_id(F.lit(context_id), "type_key", "norm_key"))
    )


def match_edges(nodes: DataFrame) -> DataFrame:
    """Undirected similarity edges between nodes (same tier rules as linking).

    Same norm_key is already one node, so edges cover PARTIAL and FUZZY.
    """
    n = nodes.select("node_id", "type_key", "norm_key")
    # PARTIAL: single-word key matches a token (len >= 4) of a multi-word key.
    singles = n.filter(~F.col("norm_key").contains(" ") & (F.length("norm_key") >= MIN_PART_LENGTH)).alias("s")
    multi_tokens = (
        n.filter(F.col("norm_key").contains(" "))
        .withColumn("token", F.explode(F.split("norm_key", r"\s+")))
        .filter(F.length("token") >= MIN_PART_LENGTH)
        .alias("t")
    )
    partial = singles.join(
        multi_tokens,
        (F.col("s.norm_key") == F.col("t.token")) & (F.col("s.type_key") == F.col("t.type_key")),
    ).select(F.col("s.node_id").alias("a"), F.col("t.node_id").alias("b"))

    # FUZZY: blocked on (type, first char, length band); levenshtein threshold
    # floor(min_len * 0.2), min length 4 (FuzzyNameCandidateSearcher.kt:45-47).
    band = lambda c: F.floor(F.length(c) / 4)  # noqa: E731
    f = n.filter(F.length("norm_key") >= MIN_FUZZY_LENGTH)
    fa, fb = f.alias("fa"), f.alias("fb")
    min_len = F.least(F.length("fa.norm_key"), F.length("fb.norm_key"))
    fuzzy = fa.join(
        fb,
        (F.col("fa.type_key") == F.col("fb.type_key"))
        & (F.col("fa.node_id") < F.col("fb.node_id"))
        & (F.substring(F.col("fa.norm_key"), 1, 1) == F.substring(F.col("fb.norm_key"), 1, 1))
        & (band(F.col("fa.norm_key")) == band(F.col("fb.norm_key"))),
    ).filter(
        F.levenshtein(F.col("fa.norm_key"), F.col("fb.norm_key"))
        <= F.floor(min_len * MAX_DISTANCE_RATIO)
    ).select(F.col("fa.node_id").alias("a"), F.col("fb.node_id").alias("b"))

    return partial.unionByName(fuzzy).distinct()


# The perfbench trace reads this name; the ceiling itself is the shared one.
DRIVER_CC_MAX_EDGES = adaptive.DRIVER_MAX_ROWS


def _driver_union_find(pairs: list, nodes: DataFrame, node_col: str) -> DataFrame:
    """Union-find with path compression and min-id roots over collected pairs.

    Produces the same partition AND the same labels as min-id label
    propagation: keeping the smaller root on every union makes each root the
    minimum id of its component (the invariant the distributed loop converges
    to). The reference's own UnionFind (DuplicateCollectorStrategy.kt:117-146)
    is this exact structure.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb
    mapping = [(n, find(n)) for n in parent]
    spark = nodes.sparkSession
    labels = nodes.select(F.col(node_col).alias("id"))
    id_type = labels.schema["id"].dataType
    if mapping:
        from pyspark.sql.types import StructField, StructType

        mdf = F.broadcast(
            spark.createDataFrame(
                mapping,
                StructType(
                    [StructField("id", id_type), StructField("_comp", id_type)]
                ),
            )
        )
        labels = labels.join(mdf, "id", "left")
    else:
        labels = labels.withColumn("_comp", F.lit(None).cast(id_type))
    return labels.select(
        F.col("id").alias(node_col),
        F.coalesce("_comp", "id").alias("component"),
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node_id",
    max_iter: int = 25,
) -> DataFrame:
    """Min-id label propagation until fixpoint -> (node_id, component).

    The reference's union-find with path compression and smaller-id-as-root
    (DuplicateCollectorStrategy.kt:117-146) computes the same partition; label
    propagation is its shuffle-native equivalent. localCheckpoint truncates
    the iterative lineage so plans stay bounded at scale.

    Scale-adaptive execution (adaptive.collect_if_small on the directed (a, b)
    edge list): at or below the shared ceiling the labels come from a
    driver-side union-find over the collected pairs, broadcast back —
    identical labels (pinned by tests/test_canonicalize.py), none of the
    per-iteration scheduler fixed cost. Larger graphs run the distributed
    loop.

    Raises RuntimeError when max_iter rounds pass without convergence —
    returning partial labels silently would split one true component in two.
    (Iterations needed = component diameter; name-similarity clusters are
    shallow, so 25 is generous.)
    """
    # The gate's checkpoint materializes the edge list once — every iteration
    # reads it, and without it each convergence check would recompute the
    # whole upstream pipeline. Lazy checkpoints throughout the loop: each one
    # is materialized (and its lineage truncated) by the NEXT full-scan action
    # instead of a dedicated eager job — one scheduler round-trip per
    # iteration instead of two, which is the dominant fixed cost of the loop
    # (the tables are vocabulary-sized).
    pairs, rows = adaptive.collect_if_small(edges.select("a", "b"))
    if rows is not None:
        return _driver_union_find(rows, nodes, node_col)
    sym = pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = nodes.select(
        F.col(node_col).alias("id"), F.col(node_col).alias("component")
    ).localCheckpoint(eager=False)
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.a == labels.id, "inner")
            .groupBy(sym.b.alias("id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        cand = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.col("component").alias("_old"),
                F.least(F.col("component"), F.coalesce("neigh_min", F.col("component"))).alias("c1"),
            )
            .localCheckpoint(eager=False)
        )
        # Pointer jumping (path halving): component <- label(component).
        # Labels are always ids within the same component, so the jump
        # preserves the invariant and the fixpoint is unchanged — but deep
        # chains converge in O(log diameter) iterations instead of
        # O(diameter) (proposition near-dup chains measured diameter ~16).
        m = cand.select(F.col("id").alias("_mid"), F.col("c1").alias("_mc"))
        new_labels = (
            cand.join(m, cand.c1 == m._mid, "left")
            .select(
                "id",
                F.least("c1", F.coalesce("_mc", "c1")).alias("component"),
                (F.least("c1", F.coalesce("_mc", "c1")) < F.col("_old")).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        # Full count (not limit(1)) so every partition of new_labels is
        # computed in this one job — materializing the lazy checkpoint as a
        # side effect of the convergence check.
        n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "a component's diameter exceeds max_iter — raise max_iter."
        )
    return labels.withColumnRenamed("id", node_col)


def canonical_entities(nodes: DataFrame, components: DataFrame) -> DataFrame:
    """Components -> entities table with canonical display name.

    Name score per DefaultCanonicalNameSelector (scored over normalized
    forms); ties break on the lexicographically first form (the reference's
    "first supplied wins" made order-free deterministic).
    """
    labeled = nodes.join(components, "node_id")
    forms = labeled.select(
        "component",
        F.explode("norm_names").alias("form"),
    )
    scored = forms.withColumn("score", canonical_name_score("form"))
    w = Window.partitionBy("component").orderBy(F.desc("score"), F.asc("form"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component", F.col("form").alias("canonical_name"))
    )
    agg = labeled.groupBy("component").agg(
        F.first("entity_type").alias("entity_type"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("surface_forms")))).alias("surface_forms"),
        F.sum("n_mentions").alias("n_mentions"),
    )
    return (
        agg.join(best, "component")
        .select(
            F.col("component").alias("entity_id"),
            "canonical_name",
            "entity_type",
            F.array(F.col("entity_type")).alias("labels"),
            "surface_forms",
            "n_mentions",
        )
    )


def canonicalize_mentions(
    mentions: DataFrame,
    context_id: str,
    span_col: str = "span",
    type_col: str = "entity_type",
    schema: DataFrame | None = None,
    pre_counted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Full canonicalization: mentions -> (entities, mention->entity mapping).

    nodes is materialized once (it is the distinct surface-form vocabulary —
    tiny relative to mentions) because edge generation, the CC loop, entity
    aggregation, and the mapping all re-read it.

    ``schema``: optional (entity_type, creation_permitted) table — the
    creation-veto rule (EscalatingEntityResolver.kt:224-237). Mentions of a
    closed type (creation_permitted=false) never mint nodes: they are
    excluded before node aggregation, so they appear in neither the entities
    table nor the mapping (downstream resolution joins leave them NULL —
    the set-oriented VetoedEntity). Types absent from the schema default to
    creation permitted. The schema is a tiny broadcast.
    """
    if schema is not None:
        closed = F.broadcast(
            schema.filter(F.col("creation_permitted") == False).select(  # noqa: E712
                F.lower("entity_type").alias("_closed_type")
            )
        )
        mentions = mentions.join(
            closed, F.lower(F.col(type_col)) == F.col("_closed_type"), "left_anti"
        )
    nodes = mention_nodes(
        mentions, context_id, span_col, type_col, pre_counted=pre_counted
    ).localCheckpoint(eager=True)
    # No width-probe action here: vocabulary-sized graphs take the driver
    # union-find inside connected_components (where the edge count is already
    # known), and above that ceiling AQE coalesces the loop's shuffles — the
    # old nodes.count() npart probe was one serial scheduler round-trip per
    # canonicalization for information the CC gate now owns.
    comps = connected_components(nodes, match_edges(nodes))
    entities = canonical_entities(nodes, comps)
    mapping = nodes.join(comps, "node_id").select(
        "type_key", "norm_key", F.col("component").alias("resolved_id")
    )
    return entities, mapping
