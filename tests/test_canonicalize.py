"""Entity-resolution fixture suite (FIXTURES.md §3): rows with the same
expected_group must land in one component; distinct groups stay distinct."""

from __future__ import annotations

from collections import defaultdict

from dice_spark.operators.canonicalize import canonicalize_mentions
from dice_spark.synth import er_fixture_rows


def test_er_fixture_groups(spark):
    rows = er_fixture_rows()
    df = spark.createDataFrame(rows, "span string, entity_type string, expected_group string")
    entities, mapping = canonicalize_mentions(df, "er-test")
    from dice_spark.functions.normalize import norm_key
    from pyspark.sql import functions as F

    resolved = (
        df.withColumn("norm_key", norm_key("span"))
        .withColumn("type_key", F.lower("entity_type"))
        .join(mapping, ["type_key", "norm_key"])
        .select("span", "entity_type", "expected_group", "resolved_id")
        .collect()
    )
    assert len(resolved) == len(rows)
    by_group = defaultdict(set)
    by_component = defaultdict(set)
    for r in resolved:
        by_group[r["expected_group"]].add(r["resolved_id"])
        by_component[r["resolved_id"]].add(r["expected_group"])
    # same expected_group -> exactly one component
    for g, comps in by_group.items():
        assert len(comps) == 1, f"group {g} split across {comps}"
    # one component never mixes two expected groups
    for c, groups in by_component.items():
        assert len(groups) == 1, f"component {c} merged groups {groups}"


def test_canonical_name_selection(spark):
    df = spark.createDataFrame(
        [
            ("hunter.hordern@example.com", "Person", "g"),
            ("HUNTER HORDERN", "Person", "g"),
            ("Hunter Hordern", "Person", "g"),
            ("Dr. Hunter Hordern", "Person", "g"),
        ],
        "span string, entity_type string, expected_group string",
    )
    entities, _ = canonicalize_mentions(df, "names")
    rows = entities.collect()
    names = {r["canonical_name"] for r in rows}
    # The email form normalizes to a distinct key (no spaces) — it stays its
    # own entity; the three name variants collapse and pick "Hunter Hordern".
    assert "Hunter Hordern" in names


def test_fuzzy_and_partial_edges(spark):
    df = spark.createDataFrame(
        [
            ("Katharine Jones", "Person", "kj"),
            ("Katherine Jones", "Person", "kj"),
            ("Brahms", "Person", "b"),
            ("Johannes Brahms", "Person", "b"),
            ("Mark", "Person", "m1"),
            ("Marx", "Person", "m2"),
        ],
        "span string, entity_type string, expected_group string",
    )
    entities, mapping = canonicalize_mentions(df, "fz")
    n = entities.count()
    # kj merges, b merges, Mark/Marx stay apart (len 4 -> max distance 0)
    assert n == 4


def test_canonicalize_schema_veto_excludes_closed_types(spark):
    """Mentions of a closed type never mint nodes: absent from the entities
    table AND the mapping (the set-oriented VetoedEntity)."""
    from dice_spark.operators.canonicalize import canonicalize_mentions

    mentions = spark.createDataFrame(
        [("Alice Nguyen", "Person"), ("Budget Memo", "Document")],
        "span string, entity_type string",
    )
    schema = spark.createDataFrame(
        [("Document", False)], "entity_type string, creation_permitted boolean"
    )
    entities, mapping = canonicalize_mentions(mentions, "c1", schema=schema)
    assert {r.entity_type for r in entities.collect()} == {"Person"}
    assert {r.type_key for r in mapping.collect()} == {"person"}


def test_cc_long_chain_converges_within_log_iterations(spark, monkeypatch):
    """A 2048-node chain (diameter 2047) must converge via the pointer-jumping
    (path-halving) step in ~log2(n) rounds — well under max_iter=25. Plain
    min-label propagation alone would need 2047 rounds and raise."""
    from pyspark.sql import functions as F

    from dice_spark.operators import adaptive
    from dice_spark.operators.canonicalize import connected_components

    n = 2048
    nodes = spark.range(n).select(F.format_string("n%05d", "id").alias("node_id"))
    edges = spark.range(n - 1).select(
        F.format_string("n%05d", "id").alias("a"),
        F.format_string("n%05d", F.col("id") + 1).alias("b"),
    )
    # A zero ceiling pins the DISTRIBUTED loop (the driver union-find fast
    # path would otherwise absorb a 2k-edge graph).
    monkeypatch.setattr(adaptive, "DRIVER_MAX_ROWS", 0)
    comps = connected_components(nodes, edges, max_iter=25)
    rows = comps.collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {"n00000"}


def test_cc_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The driver union-find fast path must label exactly like the distributed
    min-id propagation — same components, same (min-id) labels, isolated
    nodes keeping their own id — on string and long node ids, and on an
    empty edge list (every node its own component)."""
    import random

    from pyspark.sql import functions as F

    from dice_spark.operators import adaptive
    from dice_spark.operators.canonicalize import connected_components

    rnd = random.Random(7)
    n = 400
    pairs = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(220)]
    nodes_s = spark.range(n).select(F.format_string("x%04d", "id").alias("node_id"))
    edges_s = spark.createDataFrame(
        [(f"x{a:04d}", f"x{b:04d}") for a, b in pairs], "a string, b string"
    )
    # long ids (dedup_clusters uses doc_id bigints)
    nodes_l = spark.range(n).select(F.col("id").alias("node_id"))
    edges_l = spark.createDataFrame(pairs, "a long, b long")
    empty = spark.createDataFrame([], "a string, b string")

    def labels(nodes, edges):
        return sorted(map(tuple, connected_components(nodes, edges).collect()))

    for nodes, edges in ((nodes_s, edges_s), (nodes_l, edges_l), (nodes_s, empty)):
        drv = labels(nodes, edges)
        # -1, not 0: an empty edge list must take the distributed loop too.
        with monkeypatch.context() as m:
            m.setattr(adaptive, "DRIVER_MAX_ROWS", -1)
            dist = labels(nodes, edges)
        assert drv == dist
    assert drv == [(f"x{i:04d}", f"x{i:04d}") for i in range(n)]
