"""Memory hierarchy M0 raw → M1 episodic → M2 semantic (SURVEY.md §1.3,
§2.8 M3-M5 rule-based mode, §2.3 J7 lineage).

The reference materializes the hierarchy through LLM processors with
rule-based fallbacks (memfuse `store/pgai_store/fact_extraction_
processor.py:434-528` rule path, confidence ≥ 0.7 filter :543-557;
episode formation `episode_formation_processor.py`; lineage arrays
`schemas/m1_episodic.sql:28,81`). Here each level is a DataFrame
transform; the deterministic rule-based extractors are first-class (the
LLM path would slot in as a pandas_udf behind the same schema).

Mapped onto the driver testdata: `events` plays M0 (event_id=message,
user_id=conversation, event_type=role, props=content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from memfuse_spark.functions.text import tokenize
from memfuse_spark.functions.vector import (
    hash_embedding_raw,
    normalize,
    normalize_sparksql,
)
from memfuse_spark.operators.textanalysis import STOPWORDS

M1_BATCH_SIZE = 5
EMBED_DIM = 16
CONFIDENCE_THRESHOLD = 0.7


def m0_from_events(events: DataFrame) -> DataFrame:
    """M0 raw records from the events stream: per-conversation sequence
    numbers (reference pgai_store.py:440-447 assigns sequence_number)."""
    # long, not int: the DuckDB oracle's row_number() is BIGINT and the
    # driver's schema/hash compare may be type-sensitive
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.withColumn(
        "sequence_number", F.row_number().over(w).cast("long")
    ).select(
        F.col("event_id").alias("message_id"),
        F.col("user_id").alias("conversation_id"),
        F.col("event_type").alias("role"),
        F.col("props").alias("content"),
        F.col("ts").alias("created_at"),
        "sequence_number",
    )


def m1_from_m0(
    m0: DataFrame,
    batch_size: int = M1_BATCH_SIZE,
    dim: int = EMBED_DIM,
    former=None,
) -> DataFrame:
    """M1 episodic chunks: batches of `batch_size` consecutive messages
    per conversation → C1 concat, lineage array, token count, quality
    score, deterministic hash embedding (X8 — the reference's fallback
    embedder, utils/embeddings.py:212-261).

    ``former=`` is the M4 LLM-mode plug point (the reference's PRIMARY
    episode-formation path, episode_formation_processor.py:31-628),
    mirroring ``m2_facts_from_m1(extractor=)``: a callable
    ``batches_of_lines -> episode_contents`` — given one ``[role]:
    content`` line list per message batch, return the FORMED episode
    content string per batch — run as an Arrow-batched mapInPandas over
    the grouped batches. Everything downstream (token count, quality,
    lineage array, embedding) derives from the formed content, exactly
    as the rule-based concat tier. The default (None) keeps the
    rule-based plan unchanged — the oracle-checked tier.
    """
    batched = m0.withColumn(
        "batch_id", F.floor((F.col("sequence_number") - 1) / batch_size).cast("int")
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("sequence_number").alias("__seq"),
                F.col("role").alias("__role"),
                F.col("content").alias("__content"),
                F.col("message_id").alias("__id"),
            )
        )
    )
    lines = F.transform(ordered, lambda s: F.format_string("[%s]: %s", s["__role"], s["__content"]))
    member_ids = F.transform(ordered, lambda s: s["__id"])
    if former is not None:
        import pandas as pd
        from pyspark.sql.types import StringType, StructField, StructType

        grouped = batched.groupBy("conversation_id", "batch_id").agg(
            lines.alias("__lines"), member_ids.alias("m0_raw_ids")
        )
        schema = StructType(
            [
                grouped.schema["conversation_id"],
                grouped.schema["batch_id"],
                grouped.schema["m0_raw_ids"],
                StructField("content", StringType()),
            ]
        )

        def form(batches):
            for pdf in batches:
                contents = former([list(ls) for ls in pdf["__lines"]])
                out = pdf[["conversation_id", "batch_id", "m0_raw_ids"]].copy()
                out["content"] = [str(c) for c in contents]
                yield out

        chunks_base = grouped.mapInPandas(form, schema)
    else:
        chunks_base = batched.groupBy("conversation_id", "batch_id").agg(
            F.concat_ws("\n\n", lines).alias("content"),
            member_ids.alias("m0_raw_ids"),
        )
    chunks = (
        chunks_base
        .withColumn(
            "chunk_id", F.concat_ws("-", F.col("conversation_id"), F.col("batch_id"))
        )
        .withColumn("token_count", F.ceil(F.length("content") / 4).cast("int"))
        .withColumn(
            "chunk_quality_score",
            F.round(F.least(F.col("token_count") / F.lit(200.0), F.lit(1.0)), 6),
        )
        .withColumn("__digest", F.md5("content"))
        .withColumn("__raw", hash_embedding_raw("__digest", dim))
        .withColumn(
            "embedding",
            F.expr(
                "transform(" + normalize_sparksql("__raw")
                + ", x -> round(x, 6))"
            ),
        )
    )
    return chunks.select(
        "chunk_id",
        "conversation_id",
        "batch_id",
        "content",
        "m0_raw_ids",
        "token_count",
        "chunk_quality_score",
        "embedding",
    )


def m2_facts_from_m1(
    m1: DataFrame,
    confidence_threshold: float = CONFIDENCE_THRESHOLD,
    extractor=None,
) -> DataFrame:
    """M2 semantic facts — deterministic rule-based extraction (the
    reference's non-LLM fallback path, fact_extraction_processor.py:
    434-528): the two most frequent non-stopword tokens of a chunk form
    a co-occurrence fact; confidence grows with their combined share of
    the chunk; facts below the 0.7 threshold are dropped (:543-557).

    The rule path is a row map over ``m1`` (no shuffle of its own, so
    it reuses M1's one exchange): per chunk, the stopword-filtered
    tokens' distinct values ranked by (tf desc, tok asc), the top two
    kept, ``n_tok`` the count of filtered tokens. Precondition:
    ``chunk_id`` is unique per input row, which every caller meets by
    passing one :func:`m1_from_m0` result (rows sharing a chunk_id
    would yield one fact each instead of one merged fact).

    ``extractor=`` is the LLM-mode plug point (reference PRIMARY path,
    fact_extraction_processor.py:107-230), mirroring
    ``rerank.rerank(scorer=)``: a callable
    ``contents -> [[{fact_content, entities, confidence}, ...], ...]``
    (one fact list per chunk) run as an Arrow-batched mapInPandas over
    (chunk_id, conversation_id, content). The default (None) keeps the
    rule-based plan — the oracle-checked tier — byte-identical. The
    confidence threshold applies to BOTH modes (:543-557 filters after
    either extractor).
    """
    if extractor is not None:
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                m1.schema["chunk_id"],
                m1.schema["conversation_id"],
                StructField("fact_content", StringType()),
                StructField("entities", ArrayType(StringType())),
                StructField("confidence", DoubleType()),
            ]
        )
        cols = [f.name for f in schema.fields]

        def extract(batches):
            for pdf in batches:
                fact_lists = extractor(list(pdf["content"]))
                rows = [
                    (
                        cid,
                        conv,
                        str(f["fact_content"]),
                        [str(e) for e in f.get("entities", [])],
                        float(f["confidence"]),
                    )
                    for cid, conv, facts in zip(
                        pdf["chunk_id"], pdf["conversation_id"], fact_lists
                    )
                    for f in facts
                ]
                yield pd.DataFrame(rows, columns=cols)

        facts = m1.select("chunk_id", "conversation_id", "content").mapInPandas(
            extract, schema
        )
        return facts.filter(F.col("confidence") >= confidence_threshold)
    toks = m1.select(
        "chunk_id",
        "conversation_id",
        F.filter(tokenize("content"), lambda t: ~t.isin(*STOPWORDS)).alias("__toks"),
    )
    # one (-tf, tok) struct per distinct token: ascending struct order is
    # tf desc, tok asc, so the first two are the chunk's top pair
    ranked = F.array_sort(
        F.transform(
            F.array_distinct("__toks"),
            lambda t: F.struct(
                (-F.size(F.filter("__toks", lambda x: x == t))).alias("neg_tf"),
                t.alias("tok"),
            ),
        )
    )
    top2 = toks.select(
        "chunk_id",
        "conversation_id",
        F.slice(ranked, 1, 2).alias("__top"),
        F.size("__toks").alias("n_tok"),
    ).filter(F.size("__top") == 2)
    entity_a, entity_b = F.col("__top")[0]["tok"], F.col("__top")[1]["tok"]
    top_tf = -(F.col("__top")[0]["neg_tf"] + F.col("__top")[1]["neg_tf"])
    facts = top2.select(
        "chunk_id",
        "conversation_id",
        F.concat_ws(" ", entity_a, F.lit("co_occurs_with"), entity_b).alias("fact_content"),
        F.array(entity_a, entity_b).alias("entities"),
        F.round(F.least(F.lit(0.5) + top_tf / F.col("n_tok"), F.lit(1.0)), 6).alias(
            "confidence"
        ),
    )
    return facts.filter(F.col("confidence") >= confidence_threshold)


def m3_patterns_from_m2(
    m2: DataFrame, min_support: int = 2
) -> DataFrame:
    """M3 procedural patterns — rule-based mining over M2 facts
    (reference schema `store/pgai_store/schemas/m3_procedural.sql:10-50`:
    pattern_content, steps, execution_count, success_rate).

    Deterministic rule: an entity pair recurring across ≥ min_support
    chunks of the same conversation becomes a procedural pattern; its
    execution_count is the recurrence, success_rate the mean confidence
    of the supporting facts, steps the ordered supporting chunk ids.
    One groupBy — pattern mining as aggregation, not iteration.
    """
    return (
        m2.groupBy("conversation_id", "fact_content")
        .agg(
            F.count("*").cast("long").alias("execution_count"),
            F.round(F.avg("confidence"), 6).alias("success_rate"),
            F.array_sort(F.collect_list("chunk_id")).alias("steps"),
            F.first("entities").alias("entities"),
        )
        .filter(F.col("execution_count") >= min_support)
        .select(
            F.concat_ws("-", "conversation_id", F.md5("fact_content")).alias(
                "pattern_id"
            ),
            "conversation_id",
            F.col("fact_content").alias("pattern_content"),
            "entities",
            "steps",
            "execution_count",
            "success_rate",
        )
    )


def lineage_join(m1: DataFrame, m0: DataFrame) -> DataFrame:
    """J7: M1 chunk → member M0 messages through the lineage array
    (reference schemas/m1_episodic.sql:28,81 GIN-indexed TEXT[]).
    explode + equi-join; Catalyst broadcasts the smaller side."""
    exploded = m1.select("chunk_id", F.explode("m0_raw_ids").alias("message_id"))
    return exploded.join(
        m0.select("message_id", "role", "sequence_number"), "message_id"
    ).select("chunk_id", "message_id", "role", "sequence_number")
