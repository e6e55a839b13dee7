"""M0 → M1 → M2 hierarchy on a tiny synthetic event stream."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from memfuse_spark.operators import hierarchy as h


@pytest.fixture(scope="module")
def events(spark):
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 100 + (i % 2), "click", f"payload word{i % 3} word{i % 3}")
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
    )


def test_m0_sequence_numbers(events):
    m0 = h.m0_from_events(events)
    seqs = {
        (r.conversation_id, r.sequence_number)
        for r in m0.select("conversation_id", "sequence_number").collect()
    }
    # 6 events per user → sequences 1..6 per conversation
    for uid in (100, 101):
        assert {(uid, i) for i in range(1, 7)} <= seqs


def test_m1_batches_and_lineage(events):
    m1 = h.m1_from_m0(h.m0_from_events(events), batch_size=5)
    rows = m1.collect()
    # 6 messages per conversation → batches of 5 and 1
    sizes = sorted(len(r.m0_raw_ids) for r in rows)
    assert sizes == [1, 1, 5, 5]
    r0 = next(r for r in rows if r.batch_id == 0 and r.conversation_id == 100)
    assert r0.content.startswith("[click]: ")
    assert len(r0.embedding) == 16
    assert r0.chunk_id == "100-0"


def test_m2_facts_confidence_filter(events):
    m1 = h.m1_from_m0(h.m0_from_events(events), batch_size=5)
    facts = h.m2_facts_from_m1(m1, confidence_threshold=0.0).collect()
    # the row map equals the keyed-aggregation reference fact for fact
    assert _facts(h.m2_facts_from_m1(m1, confidence_threshold=0.0)) == _facts(
        _m2_by_shuffle(m1, confidence_threshold=0.0)
    )
    assert all(f.fact_content.split(" ")[1] == "co_occurs_with" for f in facts)
    assert all(0.0 <= f.confidence <= 1.0 for f in facts)
    assert all(len(f.entities) == 2 for f in facts)
    # threshold filters strictly
    hi = h.m2_facts_from_m1(m1, confidence_threshold=0.99).count()
    assert hi <= len(facts)


def test_lineage_join_roundtrip(events):
    m0 = h.m0_from_events(events)
    m1 = h.m1_from_m0(m0, batch_size=5)
    lin = h.lineage_join(m1, m0)
    # every m0 message appears exactly once in the lineage
    assert lin.count() == 12
    assert lin.select("message_id").distinct().count() == 12


def test_m2_extractor_seam_injects_llm_mode(events):
    """The extractor= plug point (reference primary LLM path,
    fact_extraction_processor.py:107-230): a fake batch extractor runs
    Arrow-batched, emits one row per extracted fact with the SAME output
    schema as the rule-based default, and the confidence threshold still
    applies after extraction."""
    m1 = h.m1_from_m0(h.m0_from_events(events), batch_size=5)

    def fake_llm(contents):
        out = []
        for c in contents:
            first = c.split()[0] if c.split() else "x"
            out.append(
                [
                    {"fact_content": f"{first} mentioned", "entities": [first], "confidence": 0.9},
                    {"fact_content": f"{first} doubted", "entities": [first], "confidence": 0.3},
                ]
            )
        return out

    got = h.m2_facts_from_m1(m1, extractor=fake_llm)
    rule = h.m2_facts_from_m1(m1)
    assert got.columns == rule.columns
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in rule.schema.fields
    ]
    rows = got.collect()
    n_chunks = m1.count()
    # one fact per chunk survives (0.9), one is threshold-dropped (0.3)
    assert len(rows) == n_chunks
    assert all(r.confidence == 0.9 and r.fact_content.endswith("mentioned") for r in rows)


def test_m1_former_seam_injects_llm_mode(events):
    """The former= plug point (reference primary LLM episode-formation
    path, episode_formation_processor.py:31-628): a fake batch former
    runs Arrow-batched over the grouped message batches, its output
    REPLACES the concat content, and token count / quality / embedding
    all derive from the formed content — same output schema as the
    rule-based default."""
    m0 = h.m0_from_events(events)

    def fake_llm(batches):
        return [f"summary of {len(ls)} msgs" for ls in batches]

    got = h.m1_from_m0(m0, batch_size=5, former=fake_llm)
    rule = h.m1_from_m0(m0, batch_size=5)
    assert got.columns == rule.columns
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in rule.schema.fields
    ]
    rows = {r.chunk_id: r for r in got.collect()}
    rule_rows = {r.chunk_id: r for r in rule.collect()}
    assert rows.keys() == rule_rows.keys()
    for cid, r in rows.items():
        n = len(rule_rows[cid].m0_raw_ids)
        assert r.content == f"summary of {n} msgs"
        # lineage preserved; downstream stats recomputed off the FORMED
        # content, not the concat
        assert r.m0_raw_ids == rule_rows[cid].m0_raw_ids
        assert r.token_count == -(-len(r.content) // 4)
        assert r.embedding != rule_rows[cid].embedding


def _m2_by_shuffle(m1, confidence_threshold=h.CONFIDENCE_THRESHOLD):
    """The rule-based M2 as a keyed aggregation: explode the tokens,
    count (chunk, token), rank by a window over chunk_id, join the
    per-chunk token count. ``m2_facts_from_m1`` computes the same facts
    as a row map; this is the reference it is checked against."""
    from pyspark.sql import Window

    from memfuse_spark.functions.text import tokenize
    from memfuse_spark.operators.textanalysis import STOPWORDS

    toks = m1.select(
        "chunk_id", "conversation_id", F.explode(tokenize("content")).alias("tok")
    ).filter(~F.col("tok").isin(*STOPWORDS))
    tf = toks.groupBy("chunk_id", "conversation_id", "tok").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("chunk_id").orderBy(F.desc("tf"), F.asc("tok"))
    top2 = tf.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 2)
    n_tok = toks.groupBy("chunk_id").agg(F.count("*").alias("n_tok"))
    facts = (
        top2.groupBy("chunk_id", "conversation_id")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("tok"))).alias("entity_a"),
            F.max(F.when(F.col("rnk") == 2, F.col("tok"))).alias("entity_b"),
            F.sum("tf").alias("top_tf"),
        )
        .join(n_tok, "chunk_id")
        .filter(F.col("entity_b").isNotNull())
        .select(
            "chunk_id",
            "conversation_id",
            F.concat_ws(" ", "entity_a", F.lit("co_occurs_with"), "entity_b").alias(
                "fact_content"
            ),
            F.array("entity_a", "entity_b").alias("entities"),
            F.round(
                F.least(F.lit(0.5) + F.col("top_tf") / F.col("n_tok"), F.lit(1.0)), 6
            ).alias("confidence"),
        )
    )
    return facts.filter(F.col("confidence") >= confidence_threshold)


def _facts(df):
    return sorted(
        (r.chunk_id, r.conversation_id, r.fact_content, list(r.entities), r.confidence)
        for r in df.collect()
    )


M2_EDGE_CHUNKS = [
    # tf ties at the top (alpha, beta, zeta all 2): token asc breaks them
    ("tie", "zeta beta alpha beta alpha zeta gamma"),
    # a tie for rank 2 only (c, d, e all 1 behind b's 3)
    ("tie2", "e d b c b b"),
    # one distinct non-stopword token: no second entity, no fact
    ("single", "apple the apple a apple"),
    # every token a stopword: nothing to rank
    ("stop", "the a and of to in is it"),
    ("empty", ""),
    ("null", None),
    # top_tf / n_tok = 2 / 10: confidence exactly 0.7 is kept ...
    ("at", " ".join(f"w{i}" for i in range(10))),
    # ... and 2 / 11 (0.681818) is dropped
    ("below", " ".join(f"w{i:02d}" for i in range(11))),
]


def test_m2_rule_edge_cases_match_shuffle_reference(spark):
    """The row-map rule path equals the keyed-aggregation reference on
    tf ties (token asc breaks them), a chunk with one distinct
    non-stopword token, an all-stopword, empty or null chunk, and a
    confidence of exactly the 0.7 threshold (kept) or just below it."""
    m1 = spark.createDataFrame(
        [(cid, 7, text) for cid, text in M2_EDGE_CHUNKS],
        "chunk_id string, conversation_id long, content string",
    )
    got = _facts(h.m2_facts_from_m1(m1))
    assert got == _facts(_m2_by_shuffle(m1))
    assert got == [
        ("at", 7, "w0 co_occurs_with w1", ["w0", "w1"], 0.7),
        ("tie", 7, "alpha co_occurs_with beta", ["alpha", "beta"], 1.0),
        ("tie2", 7, "b co_occurs_with c", ["b", "c"], 1.0),
    ]
    # every chunk with two distinct tokens has a fact at threshold 0
    unfiltered = _facts(h.m2_facts_from_m1(m1, confidence_threshold=0.0))
    assert unfiltered == _facts(_m2_by_shuffle(m1, confidence_threshold=0.0))
    assert [f[0] for f in unfiltered] == ["at", "below", "tie", "tie2"]
    assert unfiltered[1][4] == 0.681818

