"""Fact conflict detection + consolidation for the M2 semantic layer.

Spark twin of the reference's ConflictDetectionEngine
(``hierarchy/conflict_detection.py:55-285``): a NEW fact is checked
against the EXISTING facts that share its subject entity, detected
conflicts carry a type / severity / confidence, and
``resolve_conflicts`` (:159-199) maps confidence onto an action via two
thresholds — ``auto_resolve_threshold`` (default 0.9) and
``escalation_threshold`` (default 0.5) — yielding ``auto_resolve`` /
``escalate`` / ``ignore``. Consolidation (``hierarchy/base.py:164-171``
ConsolidationResult) keeps one fact per subject, removes duplicates and
counts resolved conflicts.

The reference's PRIMARY detector is an LLM prompt over the (new fact,
existing facts) pair (:110-147); deterministic rules take its place
here, with the same injectable-seam treatment as M3/M4/M6
(``extractor=`` / ``former=`` / ``enhancer=``): pass ``detector=`` to
run a callable over the blocked candidate pairs through Arrow-batched
``mapInPandas`` — the plug point a real LLM client would ride.

Rule tier (oracle-checked; facts are the M2 ``entity_a co_occurs_with
entity_b`` shape, hierarchy.py::m2_facts_from_m1):

- ``VALUE_MISMATCH`` — same conversation + same subject ``entity_a``,
  later chunk asserts a DIFFERENT object ``entity_b`` (the "attribute
  changed" case, conflict_detection.py:24).
- ``SEMANTIC_CONFLICT`` — a later chunk asserts the REVERSED pair
  (a→b vs b→a): the relation direction flips (:22).
- identical fact_content across chunks is a DUPLICATE, not a conflict —
  it is excluded here and counted by ``consolidate_facts``.

Scale notes (100 TB): candidates come from equi-joins blocked on
``(conversation_id, subject entity)`` — group sizes are bounded by
chunks-per-conversation, never corpus × corpus. Conflict confidence is
pair arithmetic; no driver state, no collects. The consolidation is two
keyed aggregations over the same blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

AUTO_RESOLVE_THRESHOLD = 0.9  # conflict_detection.py:76
ESCALATION_THRESHOLD = 0.5  # conflict_detection.py:77
RESOLUTION_STRATEGY = "temporal_priority"  # :78-80 resolution_strategies


def _with_fact_parts(m2: DataFrame) -> DataFrame:
    """Subject/object/batch columns off the stored M2 shape: entities =
    [entity_a, entity_b]; chunk_id = '<conversation>-<batch>' so the
    trailing integer is the chunk's temporal position."""
    return m2.select(
        "chunk_id",
        "conversation_id",
        "fact_content",
        "confidence",
        F.element_at("entities", 1).alias("subject"),
        F.element_at("entities", 2).alias("object"),
        F.regexp_extract("chunk_id", r"(\d+)$", 1).cast("int").alias("batch_id"),
    )


def _action(conf, auto_resolve_threshold: float, escalation_threshold: float):
    """resolve_conflicts threshold ladder (conflict_detection.py:180-191)."""
    return (
        F.when(conf >= auto_resolve_threshold, F.lit("auto_resolve"))
        .when(conf >= escalation_threshold, F.lit("escalate"))
        .otherwise(F.lit("ignore"))
    )


def _severity(conf, auto_resolve_threshold: float, escalation_threshold: float):
    return (
        F.when(conf >= auto_resolve_threshold, F.lit("HIGH"))
        .when(conf >= escalation_threshold, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
    )


def fact_conflicts(
    m2: DataFrame,
    auto_resolve_threshold: float = AUTO_RESOLVE_THRESHOLD,
    escalation_threshold: float = ESCALATION_THRESHOLD,
    detector=None,
) -> DataFrame:
    """(conversation_id, existing_chunk_id, new_chunk_id, subject,
    existing_fact, new_fact, conflict_type, confidence, severity,
    action, resolution_strategy) — every (existing, new) fact pair in
    conflict, existing strictly earlier (batch order), one row per pair.

    ``detector=``: optional callable ``(existing_facts, new_facts) ->
    [(conflict_type, confidence) | None, ...]`` applied to the blocked
    candidate pairs via Arrow-batched ``mapInPandas`` (None = not a
    conflict) — the LLM plug point (conflict_detection.py:110-147). The
    default keeps the deterministic rule tier.

    The reference detects conflicts at INSERT time — one NEW fact
    against the existing store (:85-108) — so the batch twin takes the
    LATEST batch per conversation as the new side and everything
    earlier as existing. That keeps the pair count LINEAR in the new
    batch (new × blocked-existing), never the quadratic all-history
    self-join.
    """
    f = _with_fact_parts(m2)
    latest = f.groupBy("conversation_id").agg(
        F.max("batch_id").alias("__max_batch")
    )
    f2 = f.join(latest, "conversation_id")
    new_side = f2.filter(F.col("batch_id") == F.col("__max_batch")).drop(
        "__max_batch"
    )
    old_side = f2.filter(F.col("batch_id") < F.col("__max_batch")).drop(
        "__max_batch"
    )
    return _fact_conflicts_between(
        old_side, new_side, auto_resolve_threshold, escalation_threshold, detector
    )


def fact_conflicts_cumulative(
    m2: DataFrame,
    auto_resolve_threshold: float = AUTO_RESOLVE_THRESHOLD,
    escalation_threshold: float = ESCALATION_THRESHOLD,
    detector=None,
) -> DataFrame:
    """Insert-time conflict REPLAY over the whole store: every
    (existing, new) pair with ``existing.batch_id < new.batch_id``
    inside the blocking key — exactly the union of what the reference's
    per-insert check (conflict_detection.py:85-108) would have flagged
    across the full ingest history, including conflicts purely among
    historical batches that :func:`fact_conflicts` (latest-batch-only)
    does not re-detect. This is the batch-snapshot cumulative form the
    ``validate_facts`` docstring points at.

    Same schema and rule/detector tiers as :func:`fact_conflicts`.
    Scale: still ONE equi-join per rule branch on
    ``(conversation_id, subject)`` — the batch inequality is a residual
    predicate, not a join multiplier; pair count is quadratic only in
    facts-per-blocking-key (bounded by chunks-per-conversation), never
    in the corpus.
    """
    f = _with_fact_parts(m2)
    return _fact_conflicts_between(
        f, f, auto_resolve_threshold, escalation_threshold, detector
    )


def _fact_conflicts_between(
    existing: DataFrame,
    new: DataFrame,
    auto_resolve_threshold: float,
    escalation_threshold: float,
    detector,
) -> DataFrame:
    """Two-sided conflict kernel: detect conflicts of ``new`` facts
    against ``existing`` facts (both :func:`_with_fact_parts` rows);
    only pairs whose existing fact has the earlier batch_id count."""
    cols = existing.columns
    e = existing.select([F.col(c).alias(f"e_{c}") for c in cols])
    n = new.select([F.col(c).alias(f"n_{c}") for c in cols])
    later = F.col("e_batch_id") < F.col("n_batch_id")

    # same-subject candidates (the reference blocks on the new fact's
    # entity overlap before prompting); duplicates excluded by rule
    same_subject = (
        e.join(
            n,
            (F.col("e_conversation_id") == F.col("n_conversation_id"))
            & (F.col("e_subject") == F.col("n_subject"))
            & later,
        )
        .filter(F.col("e_fact_content") != F.col("n_fact_content"))
        .withColumn("conflict_type", F.lit("VALUE_MISMATCH"))
    )
    # subject != object on the new side: a self-referential fact
    # (possible via the extractor/detector seams) would otherwise match
    # BOTH branches for the same (existing, new) pair, and an exact
    # duplicate would be flagged SEMANTIC_CONFLICT despite the
    # "duplicates are not conflicts" rule — hence also the
    # fact_content inequality mirror of the same_subject branch.
    reversed_pair = (
        e.join(
            n,
            (F.col("e_conversation_id") == F.col("n_conversation_id"))
            & (F.col("e_subject") == F.col("n_object"))
            & (F.col("e_object") == F.col("n_subject"))
            & (F.col("n_subject") != F.col("n_object"))
            & later,
        )
        .filter(F.col("e_fact_content") != F.col("n_fact_content"))
        .withColumn("conflict_type", F.lit("SEMANTIC_CONFLICT"))
    )
    pairs = same_subject.unionByName(reversed_pair)

    if detector is not None:
        import pandas as pd
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType

        cand = pairs.select(
            F.col("n_conversation_id").alias("conversation_id"),
            F.col("e_chunk_id").alias("existing_chunk_id"),
            F.col("n_chunk_id").alias("new_chunk_id"),
            F.col("n_subject").alias("subject"),
            F.col("e_fact_content").alias("existing_fact"),
            F.col("n_fact_content").alias("new_fact"),
            F.col("e_confidence").alias("existing_confidence"),
            F.col("n_confidence").alias("new_confidence"),
        )
        schema = StructType(
            [
                StructField("conversation_id", cand.schema["conversation_id"].dataType),
                StructField("existing_chunk_id", StringType()),
                StructField("new_chunk_id", StringType()),
                StructField("subject", StringType()),
                StructField("existing_fact", StringType()),
                StructField("new_fact", StringType()),
                StructField("conflict_type", StringType()),
                StructField("confidence", DoubleType()),
            ]
        )

        def detect(batches):
            for pdf in batches:
                verdicts = detector(
                    list(pdf["existing_fact"]), list(pdf["new_fact"])
                )
                keep = [
                    (
                        conv, ec, nc, s, ef, nf, str(v[0]),
                        round(float(v[1]), 6),
                    )
                    for conv, ec, nc, s, ef, nf, v in zip(
                        pdf["conversation_id"], pdf["existing_chunk_id"],
                        pdf["new_chunk_id"], pdf["subject"],
                        pdf["existing_fact"], pdf["new_fact"], verdicts,
                    )
                    if v is not None
                ]
                yield pd.DataFrame(keep, columns=[f.name for f in schema.fields])

        scored = cand.mapInPandas(detect, schema)
    else:
        scored = pairs.select(
            F.col("n_conversation_id").alias("conversation_id"),
            F.col("e_chunk_id").alias("existing_chunk_id"),
            F.col("n_chunk_id").alias("new_chunk_id"),
            F.col("n_subject").alias("subject"),
            F.col("e_fact_content").alias("existing_fact"),
            F.col("n_fact_content").alias("new_fact"),
            "conflict_type",
            # rule-tier conflict confidence: the mean of the two fact
            # confidences (both already ≥ the 0.7 extraction floor)
            F.round(
                (F.col("e_confidence") + F.col("n_confidence")) / 2, 6
            ).alias("confidence"),
        )

    return scored.select(
        "*",
        _severity(
            F.col("confidence"), auto_resolve_threshold, escalation_threshold
        ).alias("severity"),
        _action(
            F.col("confidence"), auto_resolve_threshold, escalation_threshold
        ).alias("action"),
        F.lit(RESOLUTION_STRATEGY).alias("resolution_strategy"),
    )


def consolidate_facts(m2: DataFrame) -> DataFrame:
    """ConsolidationResult twin (hierarchy/base.py:164-171) as a
    per-(conversation, subject) rollup: the SURVIVING fact under
    temporal-priority resolution (latest batch wins, chunk_id
    tie-break), how many exact duplicates were removed, and how many
    distinct conflicting assertions were resolved away.

    (conversation_id, subject, kept_chunk_id, kept_fact, kept_confidence,
    n_facts, removed_duplicates, resolved_conflicts)
    """
    f = _with_fact_parts(m2)
    w = Window.partitionBy("conversation_id", "subject").orderBy(
        F.desc("batch_id"), F.desc("chunk_id")
    )
    ranked = f.withColumn("__rk", F.row_number().over(w))
    stats = f.groupBy("conversation_id", "subject").agg(
        F.count("*").alias("n_facts"),
        # duplicate = the same fact_content asserted again
        (F.count("*") - F.countDistinct("fact_content")).alias(
            "removed_duplicates"
        ),
        # conflict resolution drops every non-surviving DISTINCT assertion
        (F.countDistinct("fact_content") - F.lit(1)).alias("resolved_conflicts"),
    )
    kept = ranked.filter(F.col("__rk") == 1).select(
        "conversation_id",
        "subject",
        F.col("chunk_id").alias("kept_chunk_id"),
        F.col("fact_content").alias("kept_fact"),
        F.col("confidence").alias("kept_confidence"),
    )
    return kept.join(stats, ["conversation_id", "subject"])


MIN_CONFIDENCE = 0.7  # llm_service.py:74 min_confidence_threshold
VALIDATED_CONFIDENCE = 0.9  # high-confidence auto-accept band


def validate_facts(
    m2: DataFrame,
    m1: DataFrame,
    min_confidence: float = MIN_CONFIDENCE,
    validated_confidence: float = VALIDATED_CONFIDENCE,
    cumulative: bool = False,
    validator=None,
) -> DataFrame:
    """Fact validation against the ORIGINAL context (reference
    ``validate_fact_consistency``, hierarchy/llm_service.py:144-199, and
    the ValidationStatus lattice, hierarchy/base.py:25-30): each fact is
    joined back to its source chunk, graded on entity groundedness and
    confidence, and cross-checked against the conflict detector.

    (chunk_id, conversation_id, fact_content, confidence,
    entity_support, validation_score, status, is_valid, recommendation)

    Deterministic rule tier (the reference's LLM prompt replaced by the
    groundedness check its prompt asks for):

    - ``conflicted`` — the fact participates in a detected conflict
      pair (base.py:30; overrides everything else).
    - ``rejected`` / REJECT — an entity is not grounded in the source
      chunk's tokens (entity_support < 1).
    - ``validated`` / ACCEPT — grounded and confidence ≥ 0.9.
    - ``pending`` / REVISE — grounded but confidence in the
      [min_confidence, 0.9) band: extraction accepted it, validation
      wants more evidence.

    ``validation_score = round(confidence × entity_support, 6)``
    (llm_service.py:45 validation_score). Scale: one equi-join to the
    chunk store on chunk_id + one semi-join against the conflict pairs
    — both on bucketable keys; the groundedness check is per-row array
    arithmetic.

    KNOWN LIMITATION (latest-batch-only conflict blocking): the
    ``conflicted`` status derives from :func:`fact_conflicts`, which —
    matching the reference's insert-time detection — pairs only the
    LATEST batch per conversation against earlier batches. Facts whose
    conflicts lie purely among historical batches grade
    validated/pending here. The reference checked each insert
    cumulatively, so over a full replay it would have flagged those at
    their own insert time; pass ``cumulative=True`` to grade against
    :func:`fact_conflicts_cumulative` (the insert-time replay) instead.
    The default matches the DuckDB oracle twin, which replicates the
    latest-batch blocking.

    ``validator=`` is the validation LLM seam (the reference's
    validation IS an LLM call — llm_service.py:144-199 prompts with
    the fact + its original context and parses a ValidationResult): a
    callable ``(facts, contexts) -> [(is_valid, validation_score,
    recommendation), ...]`` run Arrow-batched over each (fact, source
    chunk) pair — e.g. ``prompts.llm_validator(provider)``, which rides
    the real fact_validation prompt + parse ladder. The seam replaces
    the score/recommendation grading; ``entity_support`` stays the
    deterministic column and a detected conflict still overrides the
    status to ``conflicted`` (the reference's conflict engine is a
    separate pass there too). Default None keeps the oracle-checked
    rule tier byte-identical.
    """
    from memfuse_spark.functions.text import tokenize

    ctx = m1.select(
        "chunk_id",
        tokenize("content").alias("__toks"),
        F.col("content").alias("__context"),
    )
    conflicts = (
        fact_conflicts_cumulative(m2) if cumulative else fact_conflicts(m2)
    )
    in_conflict = (
        conflicts.select(
            F.col("existing_chunk_id").alias("chunk_id"),
            F.col("existing_fact").alias("fact_content"),
        )
        .unionByName(
            conflicts.select(
                F.col("new_chunk_id").alias("chunk_id"),
                F.col("new_fact").alias("fact_content"),
            )
        )
        .distinct()
        .withColumn("__conflicted", F.lit(True))
    )
    graded = (
        m2.join(ctx, "chunk_id")
        .join(in_conflict, ["chunk_id", "fact_content"], "left")
        .withColumn(
            "entity_support",
            F.round(
                F.size(
                    F.array_intersect(F.array_distinct("entities"), "__toks")
                )
                / F.size(F.array_distinct("entities")),
                6,
            ),
        )
        .withColumn(
            "validation_score",
            F.round(F.col("confidence") * F.col("entity_support"), 6),
        )
        .withColumn(
            "status",
            F.when(F.col("__conflicted"), F.lit("conflicted"))
            .when(F.col("entity_support") < 1.0, F.lit("rejected"))
            .when(
                F.col("confidence") >= validated_confidence, F.lit("validated")
            )
            .otherwise(F.lit("pending")),
        )
    )
    if validator is not None:
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType,
            StringType,
            StructField,
            StructType,
        )

        narrow = graded.select(
            "chunk_id", "fact_content", "__context"
        ).dropDuplicates(["chunk_id", "fact_content"])
        v_schema = StructType(
            [
                narrow.schema["chunk_id"],
                narrow.schema["fact_content"],
                StructField("__v_score", DoubleType()),
                StructField("__v_rec", StringType()),
            ]
        )

        def grade(batches):
            for pdf in batches:
                res = validator(
                    list(pdf["fact_content"]), list(pdf["__context"])
                )
                out = pdf[["chunk_id", "fact_content"]].copy()
                out["__v_score"] = [float(r[1]) for r in res]
                out["__v_rec"] = [str(r[2]) for r in res]
                yield out

        v = narrow.mapInPandas(grade, v_schema)
        graded = (
            graded.join(v, ["chunk_id", "fact_content"])
            .withColumn("validation_score", F.round(F.col("__v_score"), 6))
            .withColumn(
                "status",
                # the conflict cross-check stays authoritative (the
                # reference's conflict engine is a separate pass too);
                # the seam's recommendation drives the rest
                F.when(F.col("__conflicted"), F.lit("conflicted"))
                .when(F.col("__v_rec") == "ACCEPT", F.lit("validated"))
                .when(F.col("__v_rec") == "REJECT", F.lit("rejected"))
                .otherwise(F.lit("pending")),
            )
        )
    return graded.select(
        "chunk_id",
        "conversation_id",
        "fact_content",
        "confidence",
        "entity_support",
        "validation_score",
        "status",
        (F.col("status") == "validated").alias("is_valid"),
        F.when(F.col("status") == "validated", F.lit("ACCEPT"))
        .when(F.col("status") == "rejected", F.lit("REJECT"))
        .otherwise(F.lit("REVISE"))
        .alias("recommendation"),
    )
