"""Revision arithmetic + fast-path semantics (FIXTURES.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dice_spark.operators.revision import classify_pairs_udf, revise


def _props(spark, rows):
    return spark.createDataFrame(
        rows,
        "prop_id string, context_id string, text string, confidence double, "
        "decay double, pinned boolean, status string, reinforce_count int, "
        "grounding array<string>",
    )


def test_canonical_text_merge(spark):
    existing = _props(spark, [
        ("p1", "c", "Claudia Carter has been at Meridian Labs for about 3 years.",
         0.95, 0.5, False, "ACTIVE", 0, ["g1"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Claudia Carter has been at Meridian Labs for about 3 years",
         0.8, 0.9, False, "ACTIVE", 0, ["g2"]),
    ])
    out = {r["prop_id"]: r for r in revise(existing, incoming).collect()}
    assert len(out) == 1
    p = out["p1"]
    assert p["revision_outcome"] == "MERGED"
    assert abs(p["confidence"] - min(0.95 + 0.3 * 0.8, 0.99)) < 1e-9  # 0.99 cap
    assert abs(p["decay"] - 0.5 * 0.7) < 1e-9
    assert p["reinforce_count"] == 1
    assert sorted(p["grounding"]) == ["g1", "g2"]


def test_unrelated_is_new(spark):
    existing = _props(spark, [("p1", "c", "Alice works with Bob.", 0.9, 0.1, False, "ACTIVE", 0, [])])
    incoming = _props(spark, [("n1", "c", "Dana founded Initech.", 0.8, 0.2, False, "ACTIVE", 0, [])])
    out = {r["prop_id"]: r["revision_outcome"] for r in revise(existing, incoming).collect()}
    assert out == {"p1": "UNCHANGED", "n1": "NEW"}


def test_reinforce_and_contradict(spark):
    existing = _props(spark, [
        ("p1", "c", "Alice works with Bob at Globex.", 0.8, 0.4, False, "ACTIVE", 2, ["g1"]),
        ("p2", "c", "Carol leads Project Apollo.", 0.9, 0.2, False, "ACTIVE", 0, []),
        ("p3", "c", "Dana manages Initech.", 0.9, 0.2, True, "ACTIVE", 0, []),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Alice collaborates with Bob at Globex.", 0.7, 0.5, False, "ACTIVE", 0, ["g2"]),
        ("n2", "c", "Carol does not lead Project Apollo.", 0.9, 0.1, False, "ACTIVE", 0, []),
        ("n3", "c", "Dana never manages Initech.", 0.9, 0.1, False, "ACTIVE", 0, []),
    ])
    pairs = spark.createDataFrame(
        [("p1", "n1", "SIMILAR", 0.8), ("p2", "n2", "CONTRADICTORY", 0.9), ("p3", "n3", "CONTRADICTORY", 0.9)],
        "existing_id string, new_id string, relation string, similarity double",
    )
    out = {r["prop_id"]: r for r in revise(existing, incoming, pairs).collect()}
    r1 = out["p1"]
    assert r1["revision_outcome"] == "REINFORCED"
    assert abs(r1["confidence"] - min(0.8 + 0.1 * 0.7, 0.95)) < 1e-9
    assert abs(r1["decay"] - 0.4 * 0.85) < 1e-9
    assert r1["reinforce_count"] == 3
    r2 = out["p2"]
    assert r2["revision_outcome"] == "CONTRADICTED" and r2["status"] == "CONTRADICTED"
    assert abs(r2["confidence"] - max(0.9 * 0.3, 0.05)) < 1e-9
    assert abs(r2["decay"] - min(0.2 + 0.15, 1.0)) < 1e-9
    # pinned original intact, routed to review
    r3 = out["p3"]
    assert r3["revision_outcome"] == "REVIEW" and r3["status"] == "ACTIVE"
    assert r3["confidence"] == 0.9


def test_similar_below_floor_treated_unrelated(spark):
    existing = _props(spark, [("p1", "c", "Alice works with Bob.", 0.8, 0.4, False, "ACTIVE", 0, [])])
    incoming = _props(spark, [("n1", "c", "Alice sometimes sees Bob.", 0.7, 0.5, False, "ACTIVE", 0, [])])
    pairs = spark.createDataFrame(
        [("p1", "n1", "SIMILAR", 0.5)],
        "existing_id string, new_id string, relation string, similarity double",
    )
    out = {r["prop_id"]: r["revision_outcome"] for r in revise(existing, incoming, pairs).collect()}
    assert out == {"p1": "UNCHANGED", "n1": "NEW"}


def test_classifier_udf_shapes(spark):
    pairs = spark.createDataFrame(
        [
            ("a", "b", "Alice works with Bob.", "Alice works with Bob"),
            ("a", "c", "Alice works with Bob.", "Alice does not works with Bob."),
            ("a", "d", "Alice works with Bob.", "Completely different content here."),
        ],
        "existing_id string, new_id string, existing_text string, new_text string",
    )
    got = {r["new_id"]: r["relation"] for r in classify_pairs_udf(pairs).collect()}
    assert got["b"] == "IDENTICAL"
    assert got["c"] == "CONTRADICTORY"
    assert got["d"] == "UNRELATED"


def test_vector_fast_path_splits(spark):
    from dice_spark.operators.revision import vector_fast_path

    pairs = spark.createDataFrame(
        [
            ("e1", "n1", "Alice works with Bob.", "alice WORKS with bob"),   # cosine 1.0 -> auto
            ("e2", "n2", "Alice works with Bob.", "Bob collaborates Alice"),# mid -> classify
            ("e3", "n3", "Alice works with Bob.", "zzzz qqqq xxxx"),        # below floor -> drop
        ],
        "existing_id string, new_id string, existing_text string, new_text string",
    )
    auto, to_classify = vector_fast_path(pairs)
    assert {r["existing_id"] for r in auto.collect()} == {"e1"}
    assert auto.collect()[0]["relation"] == "IDENTICAL"
    assert {r["existing_id"] for r in to_classify.collect()} == {"e2"}


def test_revise_batch_vector_fast_path_reinforces(spark):
    from dice_spark.operators.revision import revise_batch

    existing = _props(spark, [("p1", "c", "Alice works with Bob.", 0.8, 0.4, False, "ACTIVE", 0, [])])
    # Same letters, different surface: canonical-text fast path misses,
    # embedding fast path auto-merges (reinforce arithmetic).
    incoming = _props(spark, [("n1", "c", "bob works with alice", 0.7, 0.5, False, "ACTIVE", 0, [])])
    mentions_e = spark.createDataFrame([("p1", "alice", None)], "prop_id string, span string, resolved_id string")
    mentions_i = spark.createDataFrame([("n1", "alice", None)], "prop_id string, span string, resolved_id string")
    out = {r["prop_id"]: r for r in revise_batch(
        existing, incoming, mentions_e, mentions_i, use_vector_fast_path=True
    ).collect()}
    assert out["p1"]["revision_outcome"] == "REINFORCED"


def test_identical_classification_merges(spark):
    """A classifier-IDENTICAL pair with DIFFERENT canonical text (word-order
    permutation: same token set, different sequence) merges with the merge
    arithmetic and consumes the incoming prop — classifiedToResult's
    identical-first branch (LlmPropositionReviser.kt:478-509). Identical
    outranks similar for the same new prop."""
    existing = _props(spark, [
        ("p1", "c", "Alice works with Bob.", 0.8, 0.5, False, "ACTIVE", 0, ["g1"]),
        ("p2", "c", "Alice works with Bob today.", 0.7, 0.5, False, "ACTIVE", 0, ["g2"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Bob works with Alice.", 0.6, 0.9, False, "ACTIVE", 0, ["g3"]),
    ])
    pairs = spark.createDataFrame(
        [
            ("p1", "n1", "IDENTICAL", 1.0),
            ("p2", "n1", "SIMILAR", 0.8),
        ],
        "existing_id string, new_id string, relation string, similarity double",
    )
    out = {r["prop_id"]: r for r in revise(existing, incoming, pairs).collect()}
    assert set(out) == {"p1", "p2"}  # n1 consumed, never NEW
    assert out["p1"]["revision_outcome"] == "MERGED"
    assert out["p1"]["confidence"] == round(min(0.8 + 0.3 * 0.6, 0.99), 6)
    assert out["p1"]["reinforce_count"] == 1
    assert sorted(out["p1"]["grounding"]) == ["g1", "g3"]
    # the SIMILAR pair for the same new prop is outranked -> p2 untouched
    assert out["p2"]["revision_outcome"] == "UNCHANGED"


def _tprops(spark, rows):
    """Proposition rows with predicate + temporal anchor columns."""
    df = spark.createDataFrame(
        rows,
        "prop_id string, context_id string, text string, confidence double, "
        "decay double, pinned boolean, status string, reinforce_count int, "
        "grounding array<string>, predicate string, observed_at string",
    )
    return df.withColumn("observed_at", F.to_timestamp("observed_at"))


def test_temporal_conflict_detector_expr(spark):
    """TemporalConflictDetector.detect truth table (spi/ConflictDetectorTest.kt):
    evolving + newer -> WorldProgression; stable predicate -> Contradiction
    even when newer; absent predicate -> Contradiction; evolving + strictly
    older -> Contradiction; equal recency -> WorldProgression (not a temporal
    contradiction); predicate read from existing when incoming lacks one."""
    from dice_spark.operators.revision import conflict_type_expr

    older, newer = "2020-01-01 00:00:00", "2024-01-01 00:00:00"
    rows = [
        ("evolving_newer", "employer", "employer", newer, older),
        ("stable_newer", "birthplace", "birthplace", newer, older),
        ("no_predicate", None, None, newer, older),
        ("evolving_older", "employer", "employer", older, newer),
        ("equal_recency", "employer", "employer", newer, newer),
        ("existing_pred_fallback", None, "employer", newer, older),
        ("case_insensitive", "EMPLOYER", None, newer, older),
    ]
    df = spark.createDataFrame(
        rows, "name string, inc_pred string, ex_pred string, inc_rec string, ex_rec string"
    ).select(
        "name",
        conflict_type_expr(
            F.col("inc_pred"), F.col("ex_pred"),
            F.to_timestamp("inc_rec"), F.to_timestamp("ex_rec"),
        ).alias("ctype"),
    )
    got = {r["name"]: r["ctype"] for r in df.collect()}
    assert got == {
        "evolving_newer": "WORLD_PROGRESSION",
        "stable_newer": "CONTRADICTION",
        "no_predicate": "CONTRADICTION",
        "evolving_older": "CONTRADICTION",
        "equal_recency": "WORLD_PROGRESSION",
        "existing_pred_fallback": "WORLD_PROGRESSION",
        "case_insensitive": "WORLD_PROGRESSION",
    }


def test_revise_world_progression_supersedes_without_damage(spark):
    """Newer incoming on an evolving predicate: existing retires SUPERSEDED
    with confidence/decay intact (WORLD_PROGRESSION outcome); a strictly
    older incoming still damages (CONTRADICTED); detector off -> both damage."""
    from dice_spark.operators.revision import revise_batch

    existing = _tprops(spark, [
        ("p1", "c", "Alice Nguyen is employed by Acme Corp.",
         0.9, 0.1, False, "ACTIVE", 0, ["g1"], "employer", "2022-01-01 00:00:00"),
        ("p2", "c", "Bob Smith is employed by Initech.",
         0.8, 0.1, False, "ACTIVE", 0, ["g2"], "employer", "2024-06-01 00:00:00"),
    ])
    incoming = _tprops(spark, [
        ("n1", "c", "Alice Nguyen is no longer employed by Acme Corp.",
         0.85, 0.2, False, "ACTIVE", 0, ["g3"], "employer", "2024-01-01 00:00:00"),
        ("n2", "c", "Bob Smith is no longer employed by Initech.",
         0.85, 0.2, False, "ACTIVE", 0, ["g4"], "employer", "2020-01-01 00:00:00"),
    ])
    ments_ex = spark.createDataFrame(
        [("p1", "alice nguyen", None), ("p2", "bob smith", None)],
        "prop_id string, span string, resolved_id string",
    )
    ments_inc = spark.createDataFrame(
        [("n1", "alice nguyen", None), ("n2", "bob smith", None)],
        "prop_id string, span string, resolved_id string",
    )
    out = {
        r["prop_id"]: r
        for r in revise_batch(
            existing, incoming, ments_ex, ments_inc, temporal_conflicts=True
        ).collect()
    }
    p1 = out["p1"]
    assert p1["revision_outcome"] == "WORLD_PROGRESSION"
    assert p1["status"] == "SUPERSEDED"
    assert abs(p1["confidence"] - 0.9) < 1e-9 and abs(p1["decay"] - 0.1) < 1e-9
    p2 = out["p2"]
    assert p2["revision_outcome"] == "CONTRADICTED"
    assert abs(p2["confidence"] - max(0.8 * 0.3, 0.05)) < 1e-9
    # incoming facts stay NEW ACTIVE
    assert out["n1"]["revision_outcome"] == "NEW" and out["n1"]["status"] == "ACTIVE"
    # detector off (AlwaysContradictionDetector): both existing damage
    off = {
        r["prop_id"]: r["revision_outcome"]
        for r in revise_batch(
            existing, incoming, ments_ex, ments_inc, temporal_conflicts=False
        ).collect()
    }
    assert off["p1"] == "CONTRADICTED" and off["p2"] == "CONTRADICTED"


def test_revise_multi_hit_folds_and_collapses(spark):
    """Two incoming props reinforcing the same existing fold exactly like the
    reference's sequential arithmetic (conf' = min(c + 0.1*(a+b), 0.95),
    decay' = d*0.85^2, reinforce_count + 2) — one output row per prop_id."""
    existing = _props(spark, [
        ("p1", "c", "Carol Jones works with the Apollo team daily.",
         0.6, 0.4, False, "ACTIVE", 0, ["g1"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Carol Jones works with the Apollo team often.",
         0.5, 0.2, False, "ACTIVE", 0, ["g2"]),
        ("n2", "c", "Carol Jones works with the Apollo team now.",
         0.7, 0.2, False, "ACTIVE", 0, ["g3"]),
    ])
    pairs = spark.createDataFrame(
        [("p1", "n1", "SIMILAR", 0.8), ("p1", "n2", "SIMILAR", 0.9)],
        "existing_id string, new_id string, relation string, similarity double",
    )
    rows = [r for r in revise(existing, incoming, pairs).collect() if r["prop_id"] == "p1"]
    assert len(rows) == 1
    p = rows[0]
    assert p["revision_outcome"] == "REINFORCED"
    assert abs(p["confidence"] - min(0.6 + 0.1 * (0.5 + 0.7), 0.95)) < 1e-9
    assert abs(p["decay"] - 0.4 * 0.85**2) < 1e-9
    assert p["reinforce_count"] == 2
    assert sorted(p["grounding"]) == ["g1", "g2", "g3"]


def test_additional_grounding_enrichment(spark):
    """AdditionalGroundingTest.kt parity: extra source-record ids merge into
    the incoming side's grounding (de-duplicated, originals first); empty is
    a no-op; merged/reinforced revised rows carry the ids while a
    contradicted pre-existing original keeps its own provenance."""
    from dice_spark.operators.provenance import with_additional_grounding
    from dice_spark.operators.revision import revise_batch

    base = _props(spark, [("n1", "c", "x", 0.9, 0.1, False, "ACTIVE", 0, ["chat:c1"])])
    # no-op on empty / None
    assert with_additional_grounding(base, []) is base
    assert with_additional_grounding(base, None) is base
    # gains the extras, keeps the original, de-duplicates
    got = with_additional_grounding(base, ["email:t1", "hubspot:42", "email:t1"]).collect()[0]
    assert list(got["grounding"]) == ["chat:c1", "email:t1", "hubspot:42"]
    dup = with_additional_grounding(base, ["chat:c1"]).collect()[0]
    assert list(dup["grounding"]) == ["chat:c1"]

    existing = _props(spark, [
        ("p1", "c", "Alice works with Bob at Globex.", 0.8, 0.4, False, "ACTIVE", 0, ["g1"]),
        ("p2", "c", "Carol leads Project Apollo.", 0.9, 0.2, False, "ACTIVE", 0, ["g2"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Alice collaborates with Bob at Globex.", 0.7, 0.5, False, "ACTIVE", 0, ["g3"]),
        ("n2", "c", "Carol does not lead Project Apollo.", 0.9, 0.1, False, "ACTIVE", 0, []),
    ])

    def classifier(with_text):
        return spark.createDataFrame(
            [("p1", "n1", "SIMILAR", 0.8), ("p2", "n2", "CONTRADICTORY", 0.9)],
            "existing_id string, new_id string, relation string, similarity double",
        )

    mentions_e = spark.createDataFrame(
        [("p1", "alice", None), ("p2", "carol", None)],
        "prop_id string, span string, resolved_id string",
    )
    mentions_i = spark.createDataFrame(
        [("n1", "alice", None), ("n2", "carol", None)],
        "prop_id string, span string, resolved_id string",
    )
    out = {
        r["prop_id"]: r
        for r in revise_batch(
            existing, incoming, mentions_e, mentions_i, classifier=classifier,
            additional_grounding=["email:t1"],
        ).collect()
    }
    # reinforced existing row unions the enriched incoming grounding
    assert "email:t1" in list(out["p1"]["grounding"])
    # contradicted pre-existing original keeps its own provenance
    assert list(out["p2"]["grounding"]) == ["g2"]
    # the new (incoming) side of the contradiction carries the extra id
    assert "email:t1" in list(out["n2"]["grounding"])


def test_generalizes_classification_and_priority(spark):
    """GENERALIZES (PropositionRelation.GENERALIZES; classifiedToResult
    priority identical > contradictory > generalizes > similar,
    LlmPropositionReviser.kt:484-558): a strict-token-subset incoming
    classifies GENERALIZES when the rule is enabled, and the revise outcome
    stores it GENERALIZED without reinforcing the covered existing."""
    pairs = spark.createDataFrame(
        [
            ("e1", "g1", "Alice likes juicy red apples.", "Alice likes apples."),
            ("e2", "g2", "Alice likes apples.", "Alice likes apples!"),  # identical
            ("e3", "g3", "Alice likes red apples.", "Alice never likes apples."),
        ],
        "existing_id string, new_id string, existing_text string, new_text string",
    )
    got = {r["new_id"]: r["relation"] for r in classify_pairs_udf(pairs, detect_generalizes=True).collect()}
    assert got == {"g1": "GENERALIZES", "g2": "IDENTICAL", "g3": "CONTRADICTORY"}
    # off by default: the subset pair stays SIMILAR
    off = {r["new_id"]: r["relation"] for r in classify_pairs_udf(pairs).collect()}
    assert off["g1"] == "SIMILAR"


def test_revise_generalized_outcome(spark):
    existing = _props(spark, [
        ("e1", "c", "Alice likes juicy red apples.", 0.9, 0.1, False, "ACTIVE", 0, ["g1"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Alice likes apples.", 0.8, 0.2, False, "ACTIVE", 0, ["g2"]),
    ])
    pairs = spark.createDataFrame(
        [("e1", "n1")], "existing_id string, new_id string"
    ).join(existing.select(F.col("prop_id").alias("existing_id"), F.col("text").alias("existing_text")), "existing_id") \
     .join(incoming.select(F.col("prop_id").alias("new_id"), F.col("text").alias("new_text")), "new_id")
    cls = classify_pairs_udf(pairs, detect_generalizes=True)
    out = {r["prop_id"]: r for r in revise(existing, incoming, classified_pairs=cls).collect()}
    # existing untouched (generalization is not a conflict, :556-558);
    # incoming stored as the new abstraction
    assert out["e1"]["revision_outcome"] == "UNCHANGED"
    assert abs(out["e1"]["confidence"] - 0.9) < 1e-9
    assert out["n1"]["revision_outcome"] == "GENERALIZED"
    assert abs(out["n1"]["confidence"] - 0.8) < 1e-9


def test_generalizes_default_on_golden_batch(spark):
    """Golden fixture for GENERALIZES at default-on (revise_batch(
    detect_generalizes=True)) exercising the classifiedToResult priority
    identical > contradictory > generalizes > similar
    (LlmPropositionReviser.kt:484-558) on ONE batch:

    - n1 strictly abstracts e1 -> GENERALIZED, e1 untouched
    - n2 is a token subset of e2a AND flips its negation -> contradiction
      WINS the pair: e2a CONTRADICTED, n2 is the contradiction's new side
      and is NOT stored GENERALIZED (priority)
    - n3 is a terser repeat of e3 (subset, sim < 0.999, no negation flip) ->
      the false-positive mode the default-off setting avoids: textual subset
      labels GENERALIZES even though a human reviser would likely REINFORCE.
      Asserted here as the documented cost of default-on (see the
      revise_batch detect_generalizes note).
    """
    from dice_spark.operators.revision import revise_batch

    existing = _props(spark, [
        ("e1", "c", "Grace Okafor leads big exciting community projects.", 0.9, 0.1, False, "ACTIVE", 0, ["g1"]),
        ("e2a", "c", "Heidi Chen never mentors struggling new interns.", 0.9, 0.1, False, "ACTIVE", 0, ["g2"]),
        ("e3", "c", "Frank Patel supports the busy platform team daily.", 0.9, 0.1, False, "ACTIVE", 0, ["g3"]),
    ])
    incoming = _props(spark, [
        ("n1", "c", "Grace Okafor leads projects.", 0.8, 0.2, False, "ACTIVE", 0, ["h1"]),
        ("n2", "c", "Heidi Chen mentors interns.", 0.8, 0.2, False, "ACTIVE", 0, ["h2"]),
        ("n3", "c", "Frank Patel supports the platform team.", 0.8, 0.2, False, "ACTIVE", 0, ["h3"]),
    ])
    # span-overlap mentions drive candidate pairing (subject surname)
    def mset(df, spans):
        from pyspark.sql import functions as F
        rows = [(p, s) for p, s in spans]
        return spark.createDataFrame(rows, "prop_id string, span string").withColumn(
            "resolved_id", F.lit(None).cast("string")
        )
    m_e = mset(existing, [("e1", "Grace Okafor"), ("e2a", "Heidi Chen"), ("e3", "Frank Patel")])
    m_i = mset(incoming, [("n1", "Grace Okafor"), ("n2", "Heidi Chen"), ("n3", "Frank Patel")])

    out = {r["prop_id"]: r for r in revise_batch(
        existing, incoming, mentions_existing=m_e, mentions_incoming=m_i,
        detect_generalizes=True,
    ).collect()}

    # plain abstraction: stored GENERALIZED, covered existing untouched
    assert out["n1"]["revision_outcome"] == "GENERALIZED"
    assert out["e1"]["revision_outcome"] == "UNCHANGED"

    # priority: contradiction beats generalization on the same incoming
    assert out["e2a"]["revision_outcome"] == "CONTRADICTED"
    assert out["n2"]["revision_outcome"] != "GENERALIZED"

    # the false-positive mode (why the default stays off): a terser repeat
    # classifies GENERALIZES textually instead of reinforcing
    assert out["n3"]["revision_outcome"] == "GENERALIZED"
    assert out["e3"]["revision_outcome"] == "UNCHANGED"

    # default-off on the same batch: no GENERALIZED outcomes anywhere
    off = {r["prop_id"]: r for r in revise_batch(
        existing, incoming, mentions_existing=m_e, mentions_incoming=m_i,
    ).collect()}
    assert all(r["revision_outcome"] != "GENERALIZED" for r in off.values())


def test_seam_prefilter_only_drops_ignored_pairs(spark):
    """The JVM seam prefilter may only drop pairs the default classifier
    labels UNRELATED (which revise ignores); every kept pair's label and
    similarity are still produced by the unchanged seam. Checked over
    punctuation, negation, subset, multi-space and digit shapes, and over
    unicode whitespace (no-break and em spaces separate tokens in the pandas
    tokenizer) and the dotted capital I."""
    from pyspark.sql import functions as F

    from dice_spark.operators.revision import _seam_prefilter, classify_pairs_udf

    texts = [
        "Alice Nguyen works with Bob Smith.",
        "alice nguyen works with bob smith",
        "Alice Nguyen works with Bob Smith!!!",
        "Alice Nguyen never works with Bob Smith.",
        "Alice Nguyen works with Carol Jones.",
        "Bob Smith mentors Carol.",
        "Completely different words entirely.",
        "Alice works.",
        "Alice   Nguyen\tworks with  Bob Smith.",
        "Alice Nguyen works with Bob Smith and also Carol Jones today.",
        "a1 b2 c3.",
        "a1 b2.",
        "",
        "   ",
        "...",
        "Alice\u00a0Nguyen works with Bob\u00a0Smith.",
        "Alice\u2003Nguyen works with Bob\u2003Smith.",
        "\u0130lkay Nguyen works with Bob Smith.",
        "ilkay nguyen works with bob smith",
    ]
    rows = [
        (f"e{i}", f"n{j}", a, b)
        for i, a in enumerate(texts)
        for j, b in enumerate(texts)
    ]
    pairs = spark.createDataFrame(
        rows, "existing_id string, new_id string, existing_text string, new_text string"
    )
    for dg in (False, True):
        labels = {
            (r["existing_id"], r["new_id"]): r["relation"]
            for r in classify_pairs_udf(pairs, detect_generalizes=dg).collect()
        }
        kept = {
            (r["existing_id"], r["new_id"])
            for r in _seam_prefilter(pairs, dg).select("existing_id", "new_id").collect()
        }
        for key, rel in labels.items():
            if key not in kept:
                assert rel == "UNRELATED", (key, rel, dg)


def test_revise_batch_identical_with_and_without_prefilter(spark):
    """revise_batch with the default (prefiltered) classifier must produce
    exactly the rows of the raw seam over all pairs."""
    from pyspark.sql import functions as F

    from dice_spark.operators.revision import classify_pairs_udf, revise_batch

    def props(rows):
        return spark.createDataFrame(
            [
                (pid, "ctx", t, 0.8, 0.1, False, "ACTIVE", 0, ["g"], s, o)
                for pid, t, s, o in rows
            ],
            "prop_id string, context_id string, text string, confidence double, "
            "decay double, pinned boolean, status string, reinforce_count int, "
            "grounding array<string>, subj_span string, obj_span string",
        )

    existing = props(
        [
            ("e1", "Alice works with Bob.", "Alice", "Bob"),
            ("e2", "Alice never works with Carol.", "Alice", "Carol"),
            ("e3", "Bob mentors Dana quite often these days.", "Bob", "Dana"),
            ("e4", "Carol leads Project Apollo.", "Carol", "Project Apollo"),
        ]
    )
    incoming = props(
        [
            ("n1", "Alice works with Bob!", "Alice", "Bob"),
            ("n2", "Alice works with Carol.", "Alice", "Carol"),
            ("n3", "Bob mentors Dana.", "Bob", "Dana"),
            ("n4", "Dana supports Project Borealis.", "Dana", "Project Borealis"),
        ]
    )
    got = sorted(map(tuple, revise_batch(existing, incoming).collect()))
    want = sorted(
        map(tuple, revise_batch(existing, incoming, classifier=classify_pairs_udf).collect())
    )
    assert got == want
