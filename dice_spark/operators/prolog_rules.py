"""Horn-rule inference over the projected fact base — PrologEngine, Spark-first.

The reference evaluates `prolog/dice-rules.pl` with an embedded Prolog solver
(projection/prolog/PrologEngine.kt:52-206 wraps tuProlog). Every rule in that
file (dice/src/main/resources/prolog/dice-rules.pl) is function-free Datalog
over binary facts: derived relations are conjunctive joins, the two *_chain
rules are transitive closures. That workload IS a join workload, so this
module evaluates it natively: one DataFrame join chain per rule, iterated to
a fixpoint for recursion — no solver, no driver-side term rewriting.

Semantics:
* a Rule is `head(v...) :- body_1(v,v), ..., body_n(v,v) [, v != v ...]`
  with variables shared across atoms (the dice-rules.pl subset: binary body
  atoms, no function symbols, no negation);
* evaluation is the standard immediate-consequence fixpoint: apply every
  rule against everything derived so far, keep only genuinely new tuples
  (anti-join), stop when a round adds nothing. UNION-dedup makes transitive
  closure on cyclic inputs converge exactly as tuProlog's tabled queryAll
  terminates on ground facts;
* derived facts carry their rule's head predicate, so downstream consumers
  (Oracle.ask pattern binding, Prolog emission) treat them like base facts —
  PrologEngine.fromProjection then query(...) parity.

Scale: each round is |rules| joins + one anti-join; lineage is truncated per
round (localCheckpoint) exactly like the canonicalizer's CC loop. Transitive
closure output is inherently O(paths); chains in conversation KGs are
shallow (org charts), so rounds ~ chain depth. The per-round convergence
check is ONE count() action. Below the shared driver ceiling
(operators/adaptive.py) the same fixpoint runs as dict joins on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dice_spark.operators import adaptive


@dataclass(frozen=True)
class Atom:
    predicate: str
    vars: tuple[str, str]


@dataclass(frozen=True)
class Rule:
    """head_vars may be any variables bound in the body (arity 2 here —
    the dice-rules.pl driver subset; the evaluator itself only needs the
    projection list)."""

    head: str
    head_vars: tuple[str, str]
    body: tuple[Atom, ...]
    not_equal: tuple[tuple[str, str], ...] = field(default=())


# dice-rules.pl re-expressed (transitive chains + derived relations whose
# body predicates exist in this engine's relation vocabulary; rules over
# absent predicates — expert_in, friend_of, member_of, lives_in — derive
# the empty relation and are omitted from the default set).
DICE_RULES: tuple[Rule, ...] = (
    # reports_to_chain(X, Y) :- reports_to(X, Y).
    # reports_to_chain(X, Y) :- reports_to(X, Z), reports_to_chain(Z, Y).
    Rule("reports_to_chain", ("X", "Y"), (Atom("reports_to", ("X", "Y")),)),
    Rule(
        "reports_to_chain",
        ("X", "Y"),
        (Atom("reports_to", ("X", "Z")), Atom("reports_to_chain", ("Z", "Y"))),
    ),
    # manages_chain(X, Y) :- manages(X, Y) | manages(X, Z), manages_chain(Z, Y).
    Rule("manages_chain", ("X", "Y"), (Atom("manages", ("X", "Y")),)),
    Rule(
        "manages_chain",
        ("X", "Y"),
        (Atom("manages", ("X", "Z")), Atom("manages_chain", ("Z", "Y"))),
    ),
    # coworker(X, Y) :- works_at(X, C), works_at(Y, C), X \= Y.
    # (this vocabulary's employment predicate is is_employed_by)
    Rule(
        "coworker",
        ("X", "Y"),
        (Atom("is_employed_by", ("X", "C")), Atom("is_employed_by", ("Y", "C"))),
        not_equal=(("X", "Y"),),
    ),
)


def _eval_rule(total: DataFrame, rule: Rule, delta: DataFrame | None = None, delta_pos: int | None = None) -> DataFrame:
    """One immediate-consequence step for one rule: join chain over the
    facts derived so far, inequality filters, head projection.

    ``delta``/``delta_pos``: semi-naive restriction — atom ``delta_pos``
    reads the last round's new tuples instead of the full closure."""
    joined: DataFrame | None = None
    for i, atom in enumerate(rule.body):
        source = delta if (delta is not None and i == delta_pos) else total
        rel = source.filter(F.col("predicate") == atom.predicate)
        a, b = atom.vars
        if a == b:  # p(X, X): filter, bind the variable once
            rel = rel.filter(F.col("x") == F.col("y")).select(
                F.col("x").alias(f"_{i}_{a}")
            )
        else:
            rel = rel.select(
                F.col("x").alias(f"_{i}_{a}"), F.col("y").alias(f"_{i}_{b}")
            )
        if joined is None:
            joined = rel
        else:
            # equi-join on every variable already bound by earlier atoms
            conds = []
            for v in dict.fromkeys((a, b)):
                for j in range(i):
                    pv = f"_{j}_{v}"
                    if pv in joined.columns:
                        conds.append(F.col(pv) == F.col(f"_{i}_{v}"))
                        break
            if conds:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond & c
                joined = joined.join(rel, on=cond)
            else:  # no shared variable: a genuine product (not in DICE_RULES)
                joined = joined.crossJoin(rel)
    assert joined is not None

    def first_col(v: str):
        for i in range(len(rule.body)):
            c = f"_{i}_{v}"
            if c in joined.columns:
                return F.col(c)
        raise ValueError(f"head variable {v} not bound in body of {rule.head}")

    out = joined
    for a, b in rule.not_equal:
        out = out.filter(first_col(a) != first_col(b))
    hx, hy = rule.head_vars
    return out.select(
        F.lit(rule.head).alias("predicate"),
        first_col(hx).alias("x"),
        first_col(hy).alias("y"),
    ).distinct()


def _driver_fixpoint(
    rows: list[tuple], rules: tuple[Rule, ...], max_iter: int
) -> set[tuple]:
    """Semi-naive fixpoint over collected (predicate, x, y) tuples. Same
    tuple set as the distributed loop (set semantics, no ordering); same
    max_iter contract."""
    total: set[tuple] = set(rows)

    def eval_rule(rule: Rule, delta_pred: dict | None, pos: int | None, by_pred: dict):
        bindings: list[dict] | None = None
        for i, atom in enumerate(rule.body):
            src = delta_pred if (delta_pred is not None and i == pos) else by_pred
            tuples = src.get(atom.predicate, ())
            a, b = atom.vars
            if bindings is None:
                if a == b:
                    bindings = [{a: x} for x, y in tuples if x == y]
                else:
                    bindings = [{a: x, b: y} for x, y in tuples]
                continue
            out = []
            for bind in bindings:
                for x, y in tuples:
                    if a == b and x != y:
                        continue
                    if a in bind and bind[a] != x:
                        continue
                    if b in bind and bind[b] != y:
                        continue
                    nb = dict(bind)
                    nb[a] = x
                    nb[b] = y
                    out.append(nb)
            bindings = out
        hx, hy = rule.head_vars
        res = set()
        for bind in bindings or ():
            if any(bind[a] == bind[b] for a, b in rule.not_equal):
                continue
            res.add((rule.head, bind[hx], bind[hy]))
        return res

    def index(tuples) -> dict:
        by: dict = {}
        for p, x, y in tuples:
            by.setdefault(p, []).append((x, y))
        return by

    by_total = index(total)
    delta = total
    for rnd in range(max_iter):
        by_delta = index(delta)
        derived: set[tuple] = set()
        for rule in rules:
            if rnd == 0:
                derived |= eval_rule(rule, None, None, by_total)
            else:
                for pos in range(len(rule.body)):
                    derived |= eval_rule(rule, by_delta, pos, by_total)
        new = derived - total
        if not new:
            return total
        total |= new
        for p, x, y in new:
            by_total.setdefault(p, []).append((x, y))
        delta = new
    raise RuntimeError(f"rule fixpoint did not converge in {max_iter} rounds")


def apply_rules(
    facts: DataFrame,
    rules: tuple[Rule, ...] = DICE_RULES,
    max_iter: int = 25,
) -> DataFrame:
    """Fixpoint over ``rules`` starting from binary ``facts``
    (predicate, x, y). Returns base + derived facts, deduplicated.

    Evaluation is SEMI-NAIVE (the standard delta rule): round 1 applies every
    rule to the base facts; each later round joins only the previous round's
    new tuples (once per body-atom position) against the closure, so per-
    round work is O(|delta|) instead of re-deriving the entire closure —
    the difference between O(paths) and O(depth * paths) total work on deep
    chains. The anti-join dedup makes the positional union exact (any tuple
    first derivable in round k uses at least one round-(k-1) tuple).

    Scale-adaptive (adaptive.collect_if_small on the base facts): at or below
    the shared ceiling the whole fixpoint runs as dict joins on the driver —
    identical tuple set, none of the per-round scheduler cost (parity pinned
    in tests/test_prolog_rules).

    Raises RuntimeError if max_iter rounds pass without convergence —
    a silently truncated closure would claim a chain shorter than it is.
    (Rounds needed ~ longest derivation; UNION dedup bounds cyclic inputs.)
    """
    # Validate rule shapes up front so both execution paths fail identically
    # and loudly (an unbound head variable can never produce a projection).
    for rule in rules:
        bound = {v for atom in rule.body for v in atom.vars}
        for v in rule.head_vars:
            if v not in bound:
                raise ValueError(
                    f"head variable {v} not bound in body of {rule.head}"
                )
    base, rows = adaptive.collect_if_small(facts.select("predicate", "x", "y").distinct())
    if rows is not None:
        total = _driver_fixpoint([tuple(r) for r in rows], rules, max_iter)
        # base.schema, not a fixed string schema: the result keeps the
        # input's x/y types, exactly as the distributed loop's unions do.
        return facts.sparkSession.createDataFrame(sorted(total), base.schema)
    total = base
    delta = base
    for rnd in range(max_iter):
        derived = None
        for rule in rules:
            if rnd == 0:
                steps = [_eval_rule(total, rule)]
            else:
                steps = [
                    _eval_rule(total, rule, delta=delta, delta_pos=pos)
                    for pos in range(len(rule.body))
                ]
            for step in steps:
                derived = step if derived is None else derived.unionByName(step)
        new = derived.distinct().join(total, ["predicate", "x", "y"], "left_anti")
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            return total
        total = total.unionByName(new).localCheckpoint(eager=True)
        delta = new
    raise RuntimeError(f"rule fixpoint did not converge in {max_iter} rounds")


def derived_only(facts: DataFrame, result: DataFrame) -> DataFrame:
    """The inferred tuples alone (result minus the base facts)."""
    return result.join(
        facts.select("predicate", "x", "y").distinct(),
        ["predicate", "x", "y"],
        "left_anti",
    )
