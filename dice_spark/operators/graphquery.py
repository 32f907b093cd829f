"""Read surface over the constructed KG: BFS, shortest path, 2-hop discovery.

Ports GraphQuery (/root/reference/dice/src/main/kotlin/com/embabel/dice/query/
graph/GraphQuery.kt): bounded-BFS neighborhood with first-discovery distance
(:92-100,161-216), single shortest path with a cycle-safe visited set
(:118-130,218-253); and TwoHopSemanticLinkDiscoverer
(dice-report/.../SemanticLinkDiscoverer.kt:64-136): canonical unordered
co-mention pairs, pairs NOT directly connected but sharing >= 1 neighbour,
merged sorted intermediaries, stable (source, target) ordering — the
canonical-flow golden test pins its exact output.

BFS-as-joins: frontier join edges per depth with a visited anti-join; depth is
bounded (default maxDepth=5) so the loop is a fixed small number of shuffles.
Below the shared driver ceiling (operators/adaptive.py) the same BFS walks the
collected edge list on the driver instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dice_spark.operators import adaptive

MAX_DEPTH_DEFAULT = 5

_BFS_SCHEMA = "entity_id string, distance int, pred string"


def _undirected(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("source_id").alias("src"), F.col("target_id").alias("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _driver_bfs(rows: list, start_id: str, max_depth: int) -> list[tuple]:
    """Level-synchronous BFS over collected (src, dst) rows. Exactly the
    distributed rule: per depth, an undiscovered neighbor's predecessor is
    the MIN frontier node reaching it. Returns (entity_id, distance, pred)
    rows including the start row (distance 0, pred None)."""
    adj: dict = {}
    for src, dst in rows:
        adj.setdefault(src, []).append(dst)
    visited = {start_id: (0, None)}
    frontier = [start_id]
    for d in range(1, max_depth + 1):
        nxt: dict = {}
        for src in frontier:
            for dst in adj.get(src, ()):
                if dst in visited:
                    continue
                prev = nxt.get(dst)
                if prev is None or src < prev:
                    nxt[dst] = src
        if not nxt:
            break
        for dst, pred in nxt.items():
            visited[dst] = (d, pred)
        frontier = list(nxt)
    return [(node, d, p) for node, (d, p) in visited.items()]


def _frontier_bfs(
    sym: DataFrame, start_id: str, max_depth: int, stop_at: str | None = None
) -> DataFrame:
    """The distributed form of _driver_bfs: frontier join edges per depth with
    a visited anti-join, one eager checkpoint per depth. Stops early once
    ``stop_at`` is discovered. Returns the visited (entity_id, distance, pred)
    table including the start row."""
    visited = sym.sparkSession.createDataFrame([(start_id, 0, None)], _BFS_SCHEMA)
    frontier = visited
    found = start_id == stop_at
    for d in range(1, max_depth + 1):
        if found:
            break
        nxt = (
            sym.join(frontier, sym.src == frontier.entity_id)
            .groupBy(F.col("dst").alias("entity_id"))
            .agg(F.min("src").alias("pred"))
            .join(visited.select("entity_id"), "entity_id", "left_anti")
            .withColumn("distance", F.lit(d))
            .select("entity_id", "distance", "pred")
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
        if stop_at is not None:
            found = nxt.filter(F.col("entity_id") == stop_at).limit(1).count() > 0
    return visited


def prop_edges(props: DataFrame) -> DataFrame:
    """ACTIVE propositions mentioning two resolved entities ARE the edges
    (GraphQuery.kt:161-178): (source_id, target_id, prop_id, authority_tier).
    Rows with an unresolved side (null subj_id/obj_id) contribute no edge."""
    e = props.filter(
        F.col("subj_id").isNotNull()
        & F.col("obj_id").isNotNull()
        & (F.col("status") == "ACTIVE" if "status" in props.columns else F.lit(True))
    )
    tier = (
        F.col("authority_tier") if "authority_tier" in props.columns else F.lit("UNKNOWN")
    )
    return e.select(
        F.col("subj_id").alias("source_id"),
        F.col("obj_id").alias("target_id"),
        "prop_id",
        tier.alias("authority_tier"),
    )


def neighborhood(
    edges: DataFrame,
    start_id: str,
    max_depth: int = MAX_DEPTH_DEFAULT,
    min_authority: str | None = None,
) -> DataFrame:
    """(entity_id, distance, pred) — first-discovery BFS distance from start,
    with predecessor-edge attribution (the deterministic min-id predecessor).

    ``min_authority`` is the optional authority floor (GraphQuery.kt:92-100):
    edges whose authority tier is weaker (greater ordinal) than the floor are
    excluded from the walk, and UNKNOWN-authority edges (no provenance) are
    dropped by ANY floor. Requires an ``authority_tier`` column on edges
    (prop_edges provides it); without a floor any edge table works.
    """
    spark = edges.sparkSession
    if min_authority is not None:
        from dice_spark.operators.provenance import AUTHORITY_TIERS, UNKNOWN_ORDINAL

        floor_ord = AUTHORITY_TIERS.index(min_authority)
        pos = F.array_position(
            F.array(*[F.lit(t) for t in AUTHORITY_TIERS]), F.col("authority_tier")
        )
        # array_position returns 0 for a tier string not in the list; the
        # reference fails safe (unresolvable authority -> UNKNOWN -> dropped
        # by any floor), so map 0 to UNKNOWN_ORDINAL instead of -1.
        tier_ord = F.when(pos == 0, F.lit(UNKNOWN_ORDINAL)).otherwise(pos - 1)
        edges = edges.filter((tier_ord <= floor_ord) & (tier_ord < UNKNOWN_ORDINAL))
    # Scale-adaptive (adaptive.collect_if_small): a small symmetric edge list
    # is walked on the driver (one collect vs ~3 scheduler round-trips per
    # BFS depth). Identical rows on both paths — pinned by
    # tests/test_graphquery_driver.py.
    sym, rows = adaptive.collect_if_small(_undirected(edges))
    if rows is not None:
        visited = spark.createDataFrame(_driver_bfs(rows, start_id, max_depth), _BFS_SCHEMA)
    else:
        visited = _frontier_bfs(sym, start_id, max_depth)
    return visited.filter(F.col("distance") > 0)


def path_between(edges: DataFrame, from_id: str, to_id: str, max_depth: int = MAX_DEPTH_DEFAULT) -> list[str] | None:
    """Single BFS shortest path as an id list, None when unreachable.

    Deterministic tie-break: the lexicographically smallest predecessor wins,
    replacing the reference's iteration-order dependence with a stable rule.
    """
    sym, rows = adaptive.collect_if_small(_undirected(edges))
    if rows is not None:
        pred_of = {n: p for n, _d, p in _driver_bfs(rows, from_id, max_depth)}

        def step(node):
            return [pred_of[node]] if node in pred_of else []
    else:
        visited = _frontier_bfs(sym, from_id, max_depth, stop_at=to_id)

        # Single-row filters against the (distributed) predecessor table —
        # driver payload stays O(path length), never the whole visited
        # frontier (which approaches |V| on a dense graph at depth 5).
        def step(node):
            return [r[0] for r in visited.filter(F.col("entity_id") == node).select("pred").take(1)]

    path, cur = [], to_id
    while cur is not None:
        pred = step(cur)
        if not pred:
            return None
        path.append(cur)
        cur = pred[0]
    return list(reversed(path))


MAX_CONNECTING_IDS = 100


def two_hop_links(edges: DataFrame) -> DataFrame:
    """Indirect 2-hop links: (source, target, connecting ids) — not directly
    connected, sharing >= 1 neighbour; canonical pair a <= b; sorted output.

    ``connecting`` is capped at MAX_CONNECTING_IDS (smallest ids kept —
    deterministic): two hub entities share ~|V| neighbours at scale, and an
    unbounded collect_set would put that whole set in one row. The exact
    distinct-neighbour count survives in ``n_connecting``.
    """
    from pyspark.sql import Window

    sym = _undirected(edges)
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    cand = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") < F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("source"),
            F.col("e2.dst").alias("target"),
            F.col("e1.dst").alias("via"),
        )
    )
    direct = sym.select(F.col("src").alias("source"), F.col("dst").alias("target"))
    # distinct before ranking so n_connecting counts neighbours, not paths;
    # the window partitions on the groupBy key — one exchange serves both.
    indirect = cand.join(direct, ["source", "target"], "left_anti").distinct()
    rank_w = Window.partitionBy("source", "target").orderBy("via")
    indirect = indirect.withColumn("_rank", F.row_number().over(rank_w))
    return (
        indirect.groupBy("source", "target")
        .agg(
            F.array_sort(
                F.collect_set(F.when(F.col("_rank") <= MAX_CONNECTING_IDS, F.col("via")))
            ).alias("connecting"),
            F.count(F.lit(1)).alias("n_connecting"),
        )
        .orderBy("source", "target")
    )


def why_explain(props: DataFrame, prop_id: str) -> DataFrame:
    """Lineage from durable fields (GraphQuery.whyExplain, :139-141,255-271):
    grounding chunks, provenance locator keys, authority tier and trust."""
    cols = [
        c
        for c in [
            "prop_id", "text", "grounding", "provenance", "authority_tier",
            "trust_score", "source_ids", "reinforce_count", "status",
            "confidence", "decay",
        ]
        if c in props.columns
    ]
    return props.filter(F.col("prop_id") == prop_id).select(*cols)
