"""Score fusion — the heart of the reference's query engine
(SURVEY.md §2.6 U1-U7, T4, A8).

The reference fuses per-store result lists in Python dicts (memfuse
`rag/fusion/strategies.py`): SimpleWeightedSum (:31-95),
NormalizedWeightedSum (:98-218), ReciprocalRankFusion (:221-373, formula
at :283). Here each strategy is a shuffle-light DataFrame transform over
one union of per-store results:

    (id, score, store_type)  →  (id, score)

Inputs are the per-store top-k result sets — tiny relative to the corpus
(k·stores rows) — so every window/groupBy here runs on k-scale data
regardless of corpus size. Ties are totally ordered (score desc, id asc),
unlike the reference's dict-order-dependent behavior (SURVEY.md §7 hard
part (a)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Reference default store weights (rag/retrieve/hybrid.py:54-56).
DEFAULT_WEIGHTS = {"vector": 0.5, "graph": 0.3, "keyword": 0.2}
# RRF k: 0.2 (HybridRetrieval default, hybrid.py:92-97) or 60 (config).
DEFAULT_RRF_K = 60.0


def tag_store(df: DataFrame, store_type: str) -> DataFrame:
    """Attach provenance (U1): results carry their source store."""
    return df.withColumn("store_type", F.lit(store_type))


def union_results(*stores: DataFrame) -> DataFrame:
    """Multi-path union (U1) as one lazy plan. Under AQE every branch's
    exchange is a query stage of its own, started as its own job, and
    the branches run one after another, not side by side (the
    reference gathers them concurrently with asyncio.gather,
    hybrid.py:251-322)."""
    out = stores[0]
    for s in stores[1:]:
        out = out.unionByName(s)
    return out


def _weight_col(weights: dict[str, float]):
    w = None
    for store, wt in weights.items():
        c = F.when(F.col("store_type") == store, F.lit(float(wt)))
        w = c if w is None else w.when(F.col("store_type") == store, F.lit(float(wt)))
    return F.coalesce(w, F.lit(0.0))


def weighted_sum_fusion(
    results: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    score_decimals: int = 6,
) -> DataFrame:
    """U3 SimpleWeightedSum: fused = Σ_s score_s · weight_s."""
    weights = weights or DEFAULT_WEIGHTS
    return (
        results.withColumn("__w", _weight_col(weights))
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("score") * F.col("__w")), score_decimals).alias("score"))
    )


def normalized_weighted_sum_fusion(
    results: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    score_decimals: int = 6,
) -> DataFrame:
    """U4: min-max normalize per store_type (A8 window), then weighted sum.
    All-equal scores within a store normalize to 1.0 (strategies.py:131-152).
    """
    weights = weights or DEFAULT_WEIGHTS
    w = Window.partitionBy("store_type")
    normed = results.withColumn("__min", F.min("score").over(w)).withColumn(
        "__max", F.max("score").over(w)
    )
    norm_score = F.when(
        F.col("__max") > F.col("__min"),
        (F.col("score") - F.col("__min")) / (F.col("__max") - F.col("__min")),
    ).otherwise(F.lit(1.0))
    return (
        normed.withColumn("__norm", norm_score)
        .withColumn("__w", _weight_col(weights))
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("__norm") * F.col("__w")), score_decimals).alias("score"))
    )


def rrf_fusion(
    results: DataFrame,
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    id_col: str = "doc_id",
    score_decimals: int = 6,
) -> DataFrame:
    """U5 Reciprocal Rank Fusion: fused = Σ_s w_s / (k + rank_s), rank
    1-based within store (T4 window; formula strategies.py:283)."""
    weights = weights or DEFAULT_WEIGHTS
    w = Window.partitionBy("store_type").orderBy(F.desc("score"), F.asc(id_col))
    ranked = results.withColumn("rank", F.row_number().over(w))
    return (
        ranked.withColumn("__w", _weight_col(weights))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("__w") / (F.lit(float(rrf_k)) + F.col("rank"))),
                score_decimals,
            ).alias("score")
        )
    )


def order_key(row) -> tuple:
    """Sort key of an ``(id, score)`` pair in Spark's ``score DESC, id
    ASC`` order: NaN first (Spark's largest double), NULL scores last,
    NULL ids first."""
    i, s = row[0], row[1]
    if s is None:
        sk = (2, 0.0)
    elif s != s:
        sk = (0, 0.0)
    else:
        sk = (1, -s)
    return sk + ((0, 0) if i is None else (1, i))


def max_per_id(pairs) -> dict:
    """``{id: max(score)}`` over ``(id, score)`` pairs, with Spark's
    ``max``: NULL scores ignored, NaN the largest."""
    best: dict = {}
    for i, s in pairs:
        if i not in best or order_key((i, s)) < order_key((i, best[i])):
            best[i] = s
    return best


def rrf_scores(
    branches: dict[str, list],
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
) -> dict:
    """Driver-side twin of :func:`rrf_fusion` before its rounding, for
    k-row branches already collected: ``{id: Σ_s w_s / (k + rank_s)}``
    over ``branches = {store_type: [(id, score), ...]}``. Ranks follow
    :func:`order_key`; a store missing from ``weights`` adds 0. The
    arithmetic is the plan's, term for term; round the sums with
    Spark's ``round(…, 6)`` to get its scores."""
    weights = weights or DEFAULT_WEIGHTS
    sums: dict = {}
    for store, rows in branches.items():
        w = float(weights.get(store, 0.0))
        for rank, row in enumerate(sorted(rows, key=order_key), 1):
            sums[row[0]] = sums.get(row[0], 0.0) + w / (float(rrf_k) + rank)
    return sums


def dedup_by_priority(
    results: DataFrame,
    id_col: str = "doc_id",
    priority_col: str = "source_priority",
) -> DataFrame:
    """U6/J8: union of multiple sources, keep one row per id preferring
    the lowest priority value, then highest score (reference
    buffer/query_buffer.py:331-389 anti-join dedup)."""
    w = Window.partitionBy(id_col).orderBy(
        F.asc(priority_col), F.desc("score"), F.asc(id_col)
    )
    return (
        results.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def percentile_rank_fusion(
    results: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Distribution-based fusion: each store's scores are replaced by
    their percent_rank within the store (0 = worst, 1 = best), then
    weighted-summed. Unlike min-max normalization (U4), rank
    normalization is insensitive to score-scale outliers — one huge
    BM25 score cannot compress the rest of the branch to ~0. The rank
    window orders (score, id) so the transform is a total order and
    engine-independent.
    """
    weights = weights or DEFAULT_WEIGHTS
    w = Window.partitionBy("store_type").orderBy(F.asc("score"), F.asc(id_col))
    pr = results.withColumn("__pr", F.percent_rank().over(w))
    return (
        pr.withColumn("__w", _weight_col(weights))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(F.col("__pr") * F.col("__w")), score_decimals).alias(
                "score"
            )
        )
    )
