"""Datalog fixpoint parity with the dice-rules.pl semantics PrologEngine
evaluates (projection/prolog/PrologEngine.kt:52-206)."""

import pytest

from dice_spark.operators import adaptive
from dice_spark.operators.prolog_rules import (
    DICE_RULES,
    Atom,
    Rule,
    apply_rules,
    derived_only,
)


def _facts(spark, rows):
    return spark.createDataFrame(rows, "predicate string, x string, y string")


def test_transitive_chain(spark):
    # a -> b -> c -> d: chain must contain every forward pair
    facts = _facts(
        spark,
        [("reports_to", "a", "b"), ("reports_to", "b", "c"), ("reports_to", "c", "d")],
    )
    out = apply_rules(facts)
    chain = {
        (r["x"], r["y"])
        for r in out.filter("predicate = 'reports_to_chain'").collect()
    }
    assert chain == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }


def test_cycle_terminates(spark):
    # a -> b -> a: UNION dedup must converge (tabled-resolution parity),
    # deriving the self-reachability pairs a Prolog solver also proves
    facts = _facts(spark, [("reports_to", "a", "b"), ("reports_to", "b", "a")])
    chain = {
        (r["x"], r["y"])
        for r in apply_rules(facts)
        .filter("predicate = 'reports_to_chain'")
        .collect()
    }
    assert chain == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_coworker_inequality_and_symmetry(spark):
    facts = _facts(
        spark,
        [
            ("is_employed_by", "alice", "acme"),
            ("is_employed_by", "bob", "acme"),
            ("is_employed_by", "carol", "other"),
        ],
    )
    cw = {
        (r["x"], r["y"])
        for r in apply_rules(facts).filter("predicate = 'coworker'").collect()
    }
    # X \= Y removes self-pairs; both orientations derived, carol excluded
    assert cw == {("alice", "bob"), ("bob", "alice")}


def test_derived_only_excludes_base(spark):
    facts = _facts(spark, [("reports_to", "a", "b")])
    out = apply_rules(facts)
    der = derived_only(facts, out)
    preds = {r["predicate"] for r in der.collect()}
    assert "reports_to" not in preds
    assert preds == {"reports_to_chain"}


def test_rule_layering_derived_from_derived(spark):
    # a rule whose body consumes another rule's head must see it at the
    # next round (the fixpoint is over ALL derived facts, not base only)
    rules = DICE_RULES + (
        Rule(
            "chain_peer",
            ("X", "Y"),
            (Atom("reports_to_chain", ("X", "Z")), Atom("reports_to_chain", ("Y", "Z"))),
            not_equal=(("X", "Y"),),
        ),
    )
    facts = _facts(
        spark, [("reports_to", "a", "c"), ("reports_to", "b", "c")]
    )
    peers = {
        (r["x"], r["y"])
        for r in apply_rules(facts, rules).filter("predicate = 'chain_peer'").collect()
    }
    assert peers == {("a", "b"), ("b", "a")}


def test_unbound_head_variable_raises(spark):
    facts = _facts(spark, [("reports_to", "a", "b")])
    bad = (Rule("broken", ("X", "W"), (Atom("reports_to", ("X", "Y")),)),)
    with pytest.raises(ValueError):
        apply_rules(facts, bad)


def test_driver_and_distributed_fixpoints_agree(spark, monkeypatch, optimized_plan):
    """The driver dict-join fast path must produce the same tuple set AND
    schema as the distributed semi-naive loop on a branchy cyclic graph —
    string node ids and bigint node ids alike — and its result must be a
    LocalRelation, not a LogicalRDD over pickled rows."""
    import random

    rnd = random.Random(11)
    rows = [("reports_to", f"n{rnd.randrange(10)}", f"n{rnd.randrange(10)}") for _ in range(16)]
    rows += [("manages", f"n{rnd.randrange(8)}", f"n{rnd.randrange(8)}") for _ in range(10)]
    rows += [("is_employed_by", f"p{i}", f"org{i % 4}") for i in range(12)]
    int_rows = [("reports_to", rnd.randrange(10), rnd.randrange(10)) for _ in range(16)]
    int_rows += [("is_employed_by", 100 + i, 200 + i % 4) for i in range(12)]
    for facts in (
        _facts(spark, rows),
        spark.createDataFrame(int_rows, "predicate string, x bigint, y bigint"),
    ):
        drv = apply_rules(facts)
        assert "LogicalRDD" not in optimized_plan(drv)
        with monkeypatch.context() as m:
            m.setattr(adaptive, "DRIVER_MAX_ROWS", 0)
            dist = apply_rules(facts)
        assert drv.schema == dist.schema
        assert sorted(map(tuple, drv.collect())) == sorted(map(tuple, dist.collect()))


def test_semi_naive_deep_chain_converges(spark, monkeypatch):
    """A 200-node reports_to path: the closure (19900 chain tuples) must
    converge within max_iter on BOTH paths — the distributed loop now joins
    only the previous round's delta, so its per-round work is bounded by the
    delta, not the closure."""
    n = 200
    rows = [("reports_to", f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    facts = _facts(spark, rows)
    expect = (n - 1) * n // 2  # all i<j pairs
    # rounds = chain depth (the rule extends one hop per round); semi-naive
    # bounds each ROUND's work by the delta, so 200 driver rounds are cheap
    drv = apply_rules(facts, max_iter=n + 5)
    n_drv = drv.filter(drv.predicate == "reports_to_chain").count()
    assert n_drv == expect
    # distributed semi-naive on a smaller chain (keeps the test fast but
    # still needs >> trivial rounds of pure-delta growth)
    n2 = 10
    rows2 = [("reports_to", f"m{i:02d}", f"m{i + 1:02d}") for i in range(n2 - 1)]
    monkeypatch.setattr(adaptive, "DRIVER_MAX_ROWS", 0)
    dist = apply_rules(_facts(spark, rows2))
    assert dist.filter(dist.predicate == "reports_to_chain").count() == (n2 - 1) * n2 // 2
