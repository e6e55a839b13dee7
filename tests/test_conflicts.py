"""Fact conflict detection + consolidation (reference
hierarchy/conflict_detection.py twin)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _m2(spark, rows):
    # (chunk_id, conversation_id, fact_content, entities, confidence)
    return spark.createDataFrame(
        rows,
        "chunk_id string, conversation_id string, fact_content string, "
        "entities array<string>, confidence double",
    )


@pytest.fixture(scope="module")
def m2_fixture(spark):
    return _m2(
        spark,
        [
            # c1: batch-2 fact reverses batch-0's pair -> SEMANTIC_CONFLICT
            ("c1-0", "c1", "a co_occurs_with b", ["a", "b"], 0.8),
            ("c1-1", "c1", "a co_occurs_with c", ["a", "c"], 1.0),
            ("c1-2", "c1", "b co_occurs_with a", ["b", "a"], 0.9),
            # c2: same subject, object changed -> VALUE_MISMATCH, HIGH
            ("c2-0", "c2", "x co_occurs_with y", ["x", "y"], 0.95),
            ("c2-1", "c2", "x co_occurs_with z", ["x", "z"], 0.93),
            # c3: single fact -> nothing
            ("c3-0", "c3", "p co_occurs_with q", ["p", "q"], 0.9),
            # c4: exact duplicate -> NOT a conflict; consolidation counts it
            ("c4-0", "c4", "m co_occurs_with n", ["m", "n"], 0.8),
            ("c4-1", "c4", "m co_occurs_with n", ["m", "n"], 0.85),
        ],
    )


def test_rule_tier_types_and_threshold_ladder(m2_fixture):
    from memfuse_spark.operators.conflicts import fact_conflicts

    out = fact_conflicts(m2_fixture).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r.conversation_id, []).append(r)

    # c1: only the latest batch (c1-2) is the new side; it reverses c1-0
    (c1,) = by_conv["c1"]
    assert c1.conflict_type == "SEMANTIC_CONFLICT"
    assert c1.existing_chunk_id == "c1-0" and c1.new_chunk_id == "c1-2"
    assert c1.confidence == pytest.approx(0.85)
    assert c1.severity == "MEDIUM" and c1.action == "escalate"

    # c2: VALUE_MISMATCH at (0.95+0.93)/2 = 0.94 -> auto_resolve
    (c2,) = by_conv["c2"]
    assert c2.conflict_type == "VALUE_MISMATCH"
    assert c2.confidence == pytest.approx(0.94)
    assert c2.severity == "HIGH" and c2.action == "auto_resolve"
    assert c2.resolution_strategy == "temporal_priority"

    # c3 single fact and c4 exact duplicate produce no conflicts
    assert "c3" not in by_conv and "c4" not in by_conv


def test_only_latest_batch_is_new_side(spark):
    """Insert-time semantics: historical (old, old) pairs are NOT
    re-detected — only pairs ending at the latest batch appear."""
    from memfuse_spark.operators.conflicts import fact_conflicts

    m2 = _m2(
        spark,
        [
            ("c1-0", "c1", "a co_occurs_with b", ["a", "b"], 0.9),
            ("c1-1", "c1", "a co_occurs_with c", ["a", "c"], 0.9),
            ("c1-2", "c1", "a co_occurs_with d", ["a", "d"], 0.9),
        ],
    )
    out = fact_conflicts(m2).collect()
    assert sorted(r.existing_chunk_id for r in out) == ["c1-0", "c1-1"]
    assert all(r.new_chunk_id == "c1-2" for r in out)


def test_cumulative_replay_catches_historical_conflicts(spark):
    """fact_conflicts_cumulative = the per-insert replay: it must flag
    the (batch0, batch1) conflict that the latest-batch-only form
    misses, and be a strict superset of it on the same store."""
    from memfuse_spark.operators.conflicts import (
        fact_conflicts,
        fact_conflicts_cumulative,
    )

    m2 = _m2(
        spark,
        [
            ("c1-0", "c1", "a co_occurs_with b", ["a", "b"], 0.9),
            ("c1-1", "c1", "a co_occurs_with c", ["a", "c"], 0.9),  # hist.
            ("c1-2", "c1", "a co_occurs_with d", ["a", "d"], 0.9),
        ],
    )
    latest = {
        (r.existing_chunk_id, r.new_chunk_id)
        for r in fact_conflicts(m2).collect()
    }
    cumulative = {
        (r.existing_chunk_id, r.new_chunk_id)
        for r in fact_conflicts_cumulative(m2).collect()
    }
    assert latest == {("c1-0", "c1-2"), ("c1-1", "c1-2")}
    # the historical (c1-0, c1-1) insert-time conflict only shows here
    assert cumulative == latest | {("c1-0", "c1-1")}


def test_validate_facts_cumulative_grades_historical_conflicts(spark):
    """validate_facts(cumulative=True) must grade a fact `conflicted`
    when its conflict lies purely among historical batches — the case
    the latest-batch default (matching the oracle) cannot see."""
    from memfuse_spark.operators.conflicts import validate_facts

    m2 = _m2(
        spark,
        [
            ("c1-0", "c1", "a co_occurs_with b", ["a", "b"], 0.95),
            ("c1-1", "c1", "a co_occurs_with c", ["a", "c"], 0.95),
            # batch 2's fact has a DIFFERENT subject: no conflict pairs
            # end at the latest batch, so the default sees none at all
            ("c1-2", "c1", "x co_occurs_with y", ["x", "y"], 0.95),
        ],
    )
    m1 = spark.createDataFrame(
        [("c1-0", "a b"), ("c1-1", "a c"), ("c1-2", "x y")],
        "chunk_id string, content string",
    )
    default = {
        r.chunk_id: r.status for r in validate_facts(m2, m1).collect()
    }
    cumul = {
        r.chunk_id: r.status
        for r in validate_facts(m2, m1, cumulative=True).collect()
    }
    assert default == {
        "c1-0": "validated", "c1-1": "validated", "c1-2": "validated"
    }
    assert cumul == {
        "c1-0": "conflicted", "c1-1": "conflicted", "c1-2": "validated"
    }


def test_self_referential_facts_not_double_flagged(spark):
    """A fact whose subject == object (possible via the extractor seam)
    must not match BOTH rule branches for the same pair, and an exact
    duplicate of it is never a conflict ('duplicates are not
    conflicts'), even though the reversed-pair pattern matches it."""
    from memfuse_spark.operators.conflicts import fact_conflicts

    m2 = _m2(
        spark,
        [
            # c5: exact duplicate self-referential fact -> NO conflict
            ("c5-0", "c5", "s co_occurs_with s", ["s", "s"], 0.9),
            ("c5-1", "c5", "s co_occurs_with s", ["s", "s"], 0.9),
            # c6: self-referential subject, content changed -> exactly
            # ONE VALUE_MISMATCH row (reversed branch must not re-emit)
            ("c6-0", "c6", "t co_occurs_with t", ["t", "t"], 0.9),
            ("c6-1", "c6", "t also_seen_with t", ["t", "t"], 0.9),
        ],
    )
    out = fact_conflicts(m2).collect()
    assert [(r.conversation_id, r.conflict_type) for r in out] == [
        ("c6", "VALUE_MISMATCH")
    ]


def test_detector_seam_honored_and_skippable(m2_fixture):
    """The LLM plug point: verdict tuples flow through to the output
    (type + confidence), None drops the pair, and the threshold ladder
    still applies downstream."""
    from memfuse_spark.operators.conflicts import fact_conflicts

    def detector(existing, new):
        return [
            ("PREFERENCE_CHANGE", 0.97) if e.startswith("a") else None
            for e, n in zip(existing, new)
        ]

    out = fact_conflicts(m2_fixture, detector=detector).collect()
    # only c1's pair has an existing fact starting with 'a'; c2's starts 'x'
    assert len(out) == 1
    r = out[0]
    assert r.conflict_type == "PREFERENCE_CHANGE"
    assert r.confidence == pytest.approx(0.97)
    assert r.severity == "HIGH" and r.action == "auto_resolve"


def test_detector_rule_parity(m2_fixture):
    """A detector replaying the rule-tier confidence yields the same
    pair set as the rule tier (type aside) — the seam is plan-plumbing,
    not a semantic fork."""
    from memfuse_spark.operators.conflicts import fact_conflicts

    rule = {
        (r.existing_chunk_id, r.new_chunk_id)
        for r in fact_conflicts(m2_fixture).collect()
    }
    seam = {
        (r.existing_chunk_id, r.new_chunk_id)
        for r in fact_conflicts(
            m2_fixture, detector=lambda ex, nw: [("X", 0.5)] * len(ex)
        ).collect()
    }
    assert seam == rule


def test_consolidation_counts_and_survivor(m2_fixture):
    from memfuse_spark.operators.conflicts import consolidate_facts

    rows = {
        (r.conversation_id, r.subject): r
        for r in consolidate_facts(m2_fixture).collect()
    }
    # c1 subject 'a': two distinct assertions, latest (c1-1) survives
    a = rows[("c1", "a")]
    assert a.kept_chunk_id == "c1-1" and a.n_facts == 2
    assert a.removed_duplicates == 0 and a.resolved_conflicts == 1
    # c4 subject 'm': exact duplicate — removed as duplicate, no conflict
    m = rows[("c4", "m")]
    assert m.kept_chunk_id == "c4-1"
    assert m.removed_duplicates == 1 and m.resolved_conflicts == 0
    # c3 untouched single fact
    p = rows[("c3", "p")]
    assert p.n_facts == 1 and p.resolved_conflicts == 0


def test_validation_status_lattice(spark):
    """All four ValidationStatus values (base.py:25-30) reachable:
    conflicted overrides, ungrounded entity rejects, 0.9 band splits
    validated from pending; recommendation follows."""
    from memfuse_spark.operators.conflicts import validate_facts

    m2 = _m2(
        spark,
        [
            # c1: latest batch reverses -> both sides conflicted
            ("c1-0", "c1", "a co_occurs_with b", ["a", "b"], 0.95),
            ("c1-1", "c1", "b co_occurs_with a", ["b", "a"], 0.95),
            # c2: grounded + high confidence -> validated
            ("c2-0", "c2", "x co_occurs_with y", ["x", "y"], 0.92),
            # c3: grounded but mid-band confidence -> pending
            ("c3-0", "c3", "p co_occurs_with q", ["p", "q"], 0.8),
            # c4: entity 'ghost' absent from the source chunk -> rejected
            ("c4-0", "c4", "m co_occurs_with ghost", ["m", "ghost"], 0.95),
        ],
    )
    m1 = spark.createDataFrame(
        [
            ("c1-0", "a b filler"),
            ("c1-1", "b a filler"),
            ("c2-0", "x y filler"),
            ("c3-0", "p q filler"),
            ("c4-0", "m only here"),
        ],
        "chunk_id string, content string",
    )
    rows = {r.chunk_id: r for r in validate_facts(m2, m1).collect()}
    assert rows["c1-0"].status == "conflicted"
    assert rows["c1-1"].status == "conflicted"
    assert rows["c1-0"].recommendation == "REVISE" and not rows["c1-0"].is_valid
    assert rows["c2-0"].status == "validated" and rows["c2-0"].is_valid
    assert rows["c2-0"].recommendation == "ACCEPT"
    assert rows["c3-0"].status == "pending"
    assert rows["c3-0"].recommendation == "REVISE"
    assert rows["c4-0"].status == "rejected"
    assert rows["c4-0"].recommendation == "REJECT"
    assert rows["c4-0"].entity_support == pytest.approx(0.5)
    assert rows["c4-0"].validation_score == pytest.approx(0.475)

