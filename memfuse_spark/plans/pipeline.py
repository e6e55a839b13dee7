"""The flagship query: multi-path retrieval → fusion → hydration → top-k.

Reproduces the reference's query lifecycle (SURVEY.md §3.2:
`POST /users/{id}/query` → HybridRetrieval → fusion → hydration →
rerank/top-k, memfuse `services/memory_service.py:1508-1820`,
`rag/retrieve/hybrid.py:99-164`).

A single recall (:func:`hybrid_retrieval`, :func:`hybrid_retrieval_3way`)
collects each retrieval branch's k-row result to the driver ONCE and
reuses it there:

    vector  = similarity_topk(embeddings, q, fsk).collect()   # also graph layer 1
    keyword = bm25_topk_from_index(index, text, fsk).collect()
    graph   = contextual_retrieval(..., similar=vector)       # 2 k-row collects
    fused   = rrf_scores({vector, graph, keyword})            # driver arithmetic
    return documents.filter(doc_id IN fused).orderBy(score).limit(k)

so every branch runs exactly once, nothing is checkpointed or cached,
and the returned DataFrame is one lazy job over the documents. Each
collect holds ≤ fsk rows
(the graph's arc collect ≤ the out-degree sum of fsk nodes); the RRF
sums reach the final plan as one parsed ``map(id, sum, …)`` literal and
are rounded there by Spark's own ``round(…, 6)``.

The batch recalls keep the branches as one lazy plan keyed by
``query_id``: their per-query windows amortize over the batch.

Differences by design (SURVEY.md §4): tenant/type filters apply BEFORE
top-k (the reference post-filters after top-k and can return < k rows —
a known wart); ties are totally ordered (score desc, id asc).

Scale shape: both retrieval branches are corpus scans producing k-row
results (TakeOrderedAndProject / partial-agg top-k); fusion operates on
k-scale data; hydration reads only the fused ids' documents. Nothing
here shuffles the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memfuse_spark.functions.lits import sql_literal
from memfuse_spark.operators.fusion import (
    DEFAULT_RRF_K,
    max_per_id,
    order_key,
    rrf_fusion,
    rrf_scores,
    tag_store,
    union_results,
)
from memfuse_spark.operators.keyword import bm25_topk, bm25_topk_from_index
from memfuse_spark.operators.similarity import similarity_topk


def _keyword_rows(
    documents: DataFrame, query_text: str, fsk: int, postings_index: str | None
) -> list:
    """The keyword branch's ≤ fsk (doc_id, score) rows."""
    if postings_index is not None:
        kw = bm25_topk_from_index(documents.sparkSession, postings_index, query_text, fsk)
    else:
        kw = bm25_topk(documents, query_text, fsk)
    return kw.collect()


def _fuse_and_hydrate(
    documents: DataFrame,
    branches: dict[str, list],
    weights: dict[str, float],
    rrf_k: float,
    k: int,
) -> DataFrame:
    """RRF over collected k-row branches on the driver, then ONE lazy
    plan: the fused ids' documents with their sums rounded by Spark,
    (doc_id, score, text) ordered by score desc, doc_id asc, top k."""
    sums = {i: s for i, s in rrf_scores(branches, weights, rrf_k).items() if i is not None}
    if sums:
        ids = ", ".join(map(sql_literal, sums))
        pairs = ", ".join(f"{sql_literal(i)}, {sql_literal(s)}" for i, s in sums.items())
        keep = F.expr(f"doc_id IN ({ids})")
        score = F.expr(f"round(element_at(map({pairs}), doc_id), 6)")
    else:
        keep, score = F.lit(False), F.lit(None).cast("double")
    return (
        documents.filter(keep)
        .select("doc_id", score.alias("score"), "text")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def hybrid_retrieval(
    documents: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    qvec: Sequence[float],
    k: int = 15,
    first_stage_k: int | None = None,
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    postings_index: str | None = None,
) -> DataFrame:
    """Vector ∪ keyword retrieval fused with RRF, hydrated with content.

    first_stage_k defaults to 2×k (reference memory_service.py:1553-1555).
    With `postings_index` set, the keyword branch scans the prebuilt
    term-bucketed index instead of re-tokenizing the corpus per query.
    Both branches are collected (≤ fsk rows each) and fused on the
    driver; the returned plan is the hydration job alone.
    Returns (doc_id, score, text) ordered by score desc, doc_id asc.
    """
    fsk = first_stage_k or 2 * k
    branches = {
        "vector": similarity_topk(embeddings, qvec, fsk, id_col="vec_id").collect(),
        "keyword": _keyword_rows(documents, query_text, fsk, postings_index),
    }
    return _fuse_and_hydrate(
        documents, branches, weights or {"vector": 0.5, "keyword": 0.2}, rrf_k, k
    )


def hybrid_retrieval_3way(
    documents: DataFrame,
    embeddings: DataFrame,
    edges: DataFrame,
    query_text: str,
    qvec: Sequence[float],
    k: int = 15,
    first_stage_k: int | None = None,
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    postings_index: str | None = None,
) -> DataFrame:
    """The reference's DEFAULT retrieval path: vector ∪ graph ∪ keyword
    fused with RRF at store weights 0.5/0.3/0.2 (reference
    `rag/retrieve/hybrid.py:54-56`; three-branch union at `:251-322`),
    hydrated with document content.

    The graph branch is the three-layer contextual retrieval seeded
    from the query vector (`hybrid.py:166-249`): similar ∪ connected ∪
    connected-rescored, collapsed to one score per node (max over
    layers — a node surfaced by several layers counts once at its best
    evidence) and capped at `first_stage_k` like the other branches.

    Driver design: the vector top-k is collected once and serves both
    as the vector branch and as the graph's layer 1 (``similar=``); the
    keyword top-k and the two graph layers are collected once each.
    Every collect holds ≤ first_stage_k rows, except the graph's arc
    collect, which holds ≤ the out-degree sum of first_stage_k nodes.
    Fusion runs on the driver; the returned DataFrame is the one lazy
    hydration job. With a prebuilt postings index a recall runs 7 Spark
    jobs in all (vector 1, keyword 3, graph 2, hydration 1) and no
    checkpoint.
    """
    from memfuse_spark.operators.graph import contextual_retrieval

    fsk = first_stage_k or 2 * k
    vec = similarity_topk(embeddings, qvec, fsk, id_col="vec_id").collect()
    kw = _keyword_rows(documents, query_text, fsk, postings_index)
    gctx = contextual_retrieval(embeddings, edges, qvec, k=fsk, similar=vec).collect()
    best = max_per_id((r[0], r[1]) for r in gctx)
    graph = sorted(best.items(), key=order_key)[:fsk]
    return _fuse_and_hydrate(
        documents,
        {"vector": vec, "graph": graph, "keyword": kw},
        weights or {"vector": 0.5, "graph": 0.3, "keyword": 0.2},
        rrf_k,
        k,
    )


def anchor_vector(spark: SparkSession, embeddings: DataFrame, vec_id: int = 0) -> list[float]:
    """Fetch one stored embedding to use as the query vector (driver-side
    query parameter, k·dim floats — not a data move)."""
    row = embeddings.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return list(row["embedding"])


def hybrid_batch_retrieval(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: dict[int, tuple[str, Sequence[float]]],
    k: int = 15,
    first_stage_k: int | None = None,
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    postings_index: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, text) — the flagship fusion for a
    BATCH of queries in one job: ONE corpus scan scores every query
    vector (broadcast similarity join), ONE bucket-pruned index scan
    serves every keyword query, then RRF/hydration windows keyed by
    (query_id, …) fan the per-query results out. N queries ≈ the cost
    of one — the amortization a retrieval SERVICE actually lives on
    (the reference gathers per-query asyncio tasks; here batching is a
    plan property, reference services/memory_service.py:1508-1820).
    """
    from pyspark.sql import Window

    from memfuse_spark.operators.keyword import bm25_batch_topk_from_index
    from memfuse_spark.operators.similarity import similarity_join

    spark = documents.sparkSession
    fsk = first_stage_k or 2 * k
    weights = weights or {"vector": 0.5, "keyword": 0.2}
    qvecs = spark.createDataFrame(
        [(qid, list(map(float, vec))) for qid, (_, vec) in sorted(queries.items())],
        "query_id int, qvec array<double>",
    )
    vec = tag_store(
        similarity_join(qvecs, embeddings, fsk, id_col="vec_id")
        .withColumnRenamed("vec_id", "doc_id"),
        "vector",
    )
    assert postings_index is not None, "batch path requires the prebuilt index"
    kw = tag_store(
        bm25_batch_topk_from_index(
            spark, postings_index, {qid: t for qid, (t, _) in queries.items()}, fsk
        ),
        "keyword",
    )
    unioned = union_results(vec, kw)
    rank_w = Window.partitionBy("query_id", "store_type").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    wcol = None
    for store, wt in weights.items():
        c = F.when(F.col("store_type") == store, F.lit(float(wt)))
        wcol = c if wcol is None else wcol.when(
            F.col("store_type") == store, F.lit(float(wt))
        )
    fused = (
        unioned.withColumn("rnk", F.row_number().over(rank_w))
        .withColumn("__w", F.coalesce(wcol, F.lit(0.0)))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.col("__w") / (F.lit(float(rrf_k)) + F.col("rnk"))), 6
            ).alias("score")
        )
    )
    topk_w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        # broadcast the (queries x k)-row top-k into the corpus-sized
        # text lookup — never the reverse
        documents.select("doc_id", "text")
        .join(
            F.broadcast(
                fused.withColumn("__r", F.row_number().over(topk_w)).filter(
                    F.col("__r") <= k
                )
            ),
            "doc_id",
        )
        .select("query_id", "doc_id", "score", "text")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def hybrid_batch_retrieval_3way(
    documents: DataFrame,
    embeddings: DataFrame,
    edges: DataFrame,
    queries: dict[int, tuple[str, Sequence[float]]],
    k: int = 15,
    first_stage_k: int | None = None,
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    postings_index: str | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, text) — the reference's DEFAULT
    three-store fusion for a BATCH of queries in one job: one corpus
    scan scores every query vector, one postings scan serves every
    keyword query, and the graph branch expands ALL query frontiers
    against the edge store in one join (frontier rows carry their
    query_id). Every per-query step is a window/groupBy keyed by
    (query_id, …) over batch×k-scale rows.
    """
    from pyspark.sql import Window

    from memfuse_spark import cache
    from memfuse_spark.functions.vector import cosine_similarity
    from memfuse_spark.operators.keyword import bm25_batch_topk_from_index
    from memfuse_spark.operators.similarity import similarity_join

    spark = documents.sparkSession
    fsk = first_stage_k or 2 * k
    weights = weights or {"vector": 0.5, "graph": 0.3, "keyword": 0.2}
    qvecs = spark.createDataFrame(
        [(qid, list(map(float, vec))) for qid, (_, vec) in sorted(queries.items())],
        "query_id int, qvec array<double>",
    )
    per_q = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))

    cache.begin("pipeline.batch3")
    # layer 1: per-query similar set — ONE corpus scan for the batch;
    # checkpointed because three later subplans reference it
    l1 = similarity_join(qvecs, embeddings, fsk, id_col="vec_id")
    l1, _ = cache.tracked_local_checkpoint(l1, "pipeline.batch3")
    connected = (
        l1.select("query_id", F.col("vec_id").alias("src"))
        .join(edges, "src")
        .groupBy("query_id", F.col("dst").alias("vec_id"))
        .agg(F.round(F.max("weight"), 6).alias("score"))
        .join(l1.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
    )
    connected, _ = cache.tracked_local_checkpoint(connected, "pipeline.batch3")
    rescored = (
        connected.select("query_id", "vec_id")
        .join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "qvec"), 6).alias("score"),
        )
        .withColumn("__r", F.row_number().over(per_q))
        .filter(F.col("__r") <= fsk)
        .drop("__r")
    )
    gctx = (
        l1.select("query_id", "vec_id", "score")
        .unionByName(connected)
        .unionByName(rescored)
        .groupBy("query_id", "vec_id")
        .agg(F.max("score").alias("score"))
        .withColumn("__r", F.row_number().over(per_q))
        .filter(F.col("__r") <= fsk)
        .select("query_id", F.col("vec_id").alias("doc_id"), "score")
    )
    graph = tag_store(gctx, "graph")
    vec = tag_store(
        l1.withColumnRenamed("vec_id", "doc_id"), "vector"
    )
    assert postings_index is not None, "batch path requires the prebuilt index"
    kw = tag_store(
        bm25_batch_topk_from_index(
            spark, postings_index, {qid: t for qid, (t, _) in queries.items()}, fsk
        ),
        "keyword",
    )
    unioned = union_results(vec, graph, kw)
    rank_w = Window.partitionBy("query_id", "store_type").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    wcol = None
    for store, wt in weights.items():
        c = F.when(F.col("store_type") == store, F.lit(float(wt)))
        wcol = c if wcol is None else wcol.when(
            F.col("store_type") == store, F.lit(float(wt))
        )
    fused = (
        unioned.withColumn("rnk", F.row_number().over(rank_w))
        .withColumn("__w", F.coalesce(wcol, F.lit(0.0)))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.col("__w") / (F.lit(float(rrf_k)) + F.col("rnk"))), 6
            ).alias("score")
        )
    )
    topk_w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        # broadcast the (queries x k)-row top-k into the corpus-sized
        # text lookup — never the reverse
        documents.select("doc_id", "text")
        .join(
            F.broadcast(
                fused.withColumn("__r", F.row_number().over(topk_w)).filter(
                    F.col("__r") <= k
                )
            ),
            "doc_id",
        )
        .select("query_id", "doc_id", "score", "text")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def hybrid_retrieval_with_flags(
    corpus: DataFrame,
    query_text: str,
    qvec: Sequence[float],
    k: int = 15,
    first_stage_k: int | None = None,
    include_types: Sequence[str] = ("chunk", "knowledge"),
    weights: dict[str, float] | None = None,
    rrf_k: float = DEFAULT_RRF_K,
    dim: int = 16,
    emb_col: str | None = None,
    postings_index: str | None = None,
) -> DataFrame:
    """Hybrid retrieval over a TYPED corpus with include-flag filtering
    (reference ``include_messages`` / ``include_knowledge`` /
    ``include_chunks``, vector_store/base.py:477-490; the knowledge
    table itself is database/sqlite.py:128-137).

    ``corpus`` is (doc_id, text, item_type). The type flags filter
    BEFORE both retrieval branches (F3 applied pre-top-k — the
    reference post-filters AFTER top_k and can return < k rows, the
    SURVEY §4 wart this engine fixes by design), so k survivors are
    always k. ``emb_col`` names a pre-stored embedding column on the
    corpus (the reference embeds knowledge at WRITE time,
    database/base.py add_knowledge); when None, both sides embed
    content in-query with the deterministic X8 hash embedder — the
    reference's fallback-encoder behavior for not-yet-embedded rows.
    The two paths are value-identical by the embedder's determinism.

    Returns (doc_id, item_type, score, text) ordered by score desc.
    """
    from memfuse_spark.functions.vector import hash_embedding

    fsk = first_stage_k or 2 * k
    allowed = corpus.filter(F.col("item_type").isin(list(include_types)))
    emb = allowed.select(
        "doc_id",
        (
            F.col(emb_col) if emb_col is not None
            else hash_embedding("text", dim)
        ).alias("embedding"),
    )
    vec = tag_store(
        similarity_topk(emb, qvec, fsk, id_col="doc_id"), "vector"
    )
    # ``postings_index`` serves the keyword branch from a prebuilt
    # corpus-wide index — ONLY valid when ``include_types`` selects the
    # entire corpus the index was built over (BM25's n_docs/avgdl/df are
    # corpus-wide stats; a narrower flag set must use the ad-hoc path so
    # the stats reflect the filtered corpus).
    if postings_index is not None:
        kw_raw = bm25_topk_from_index(
            corpus.sparkSession, postings_index, query_text, fsk
        )
    else:
        kw_raw = bm25_topk(allowed, query_text, fsk)
    kw = tag_store(kw_raw, "keyword")
    fused = rrf_fusion(
        union_results(vec, kw),
        weights=weights or {"vector": 0.5, "keyword": 0.2},
        rrf_k=rrf_k,
    )
    # broadcast the <=2*fsk-row fused result into the corpus-sized
    # lookup — never the reverse
    hydrated = allowed.select("doc_id", "item_type", "text").join(
        F.broadcast(fused), "doc_id"
    )
    return (
        hydrated.select("doc_id", "item_type", "score", "text")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
