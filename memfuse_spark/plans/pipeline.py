"""The flagship query: multi-path retrieval → fusion → hydration → top-k.

Reproduces the reference's query lifecycle (SURVEY.md §3.2:
`POST /users/{id}/query` → HybridRetrieval → fusion → hydration →
rerank/top-k, memfuse `services/memory_service.py:1508-1820`,
`rag/retrieve/hybrid.py:99-164`).

A single recall (:func:`hybrid_retrieval`, :func:`hybrid_retrieval_3way`)
collects each retrieval branch's k-row result to the driver ONCE and
reuses it there. The keyword branch runs BESIDE the vector → graph
chain (:func:`_collect_beside`, the reference's ``asyncio.gather`` of
its store queries, `rag/retrieve/hybrid.py:190-195`):

    kw_plan = bm25_topk_from_index(index, text, fsk)          # caller builds
    keyword = kw_plan.collect()              # on an InheritableThread, while
    vector  = similarity_topk(embeddings, q, fsk).collect()   # the caller runs
    graph   = contextual_retrieval(..., similar=vector)       # vector → graph
    fused   = rrf_scores({vector, graph, keyword})            # driver arithmetic
    return documents.filter(doc_id IN fused).orderBy(score).limit(k)

so every branch runs exactly once, nothing is checkpointed or cached,
and the returned DataFrame is one lazy job over the documents. The
critical path is vector → graph → hydration; every plan is built on the
caller's thread and only the keyword ``collect()`` runs on the other,
which inherits the caller's job group and is joined before the recall
returns or raises. Each collect holds ≤ fsk rows (the graph's arc and
rescore collects ≤ the out-degree sum of fsk nodes); the RRF sums reach
the final plan as one parsed ``map(id, sum, …)`` literal and are
rounded there by Spark's own ``round(…, 6)``.

A batch recall (:func:`hybrid_batch_retrieval`,
:func:`hybrid_batch_retrieval_3way`) is the same recall for many
queries, sharing one scan per layer, its keyword collect again beside
vector → graph:

    keyword = bm25_batch_topk_from_index(index, texts, fsk).collect()  # thread
    vector  = similarity_join(qvecs, embeddings, fsk).collect()     # by query_id
    graph   = contextual_layers(..., similar=vector)  # 2 collects, any batch size
    fused   = {q: rrf_scores({vector[q], graph[q], keyword[q]})}
    return VALUES(q, id, sum) → round(…, 6) → per-query top-k ⋈ documents

The vector and keyword collects each hold ≤ queries × fsk rows; the
graph's arc and rescore collects ≤ the out-degree sum of the union of
the layer-1 ids. Nothing is checkpointed or cached either.

Differences by design (SURVEY.md §4): tenant/type filters apply BEFORE
top-k (the reference post-filters after top-k and can return < k rows —
a known wart); ties are totally ordered (score desc, id asc).

Scale shape: both retrieval branches are corpus scans producing k-row
results (TakeOrderedAndProject / partial-agg top-k); fusion operates on
k-scale data; hydration reads only the fused ids' documents. Nothing
here shuffles the corpus.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memfuse_spark.functions.lits import sql_literal
from memfuse_spark.operators.fusion import (
    DEFAULT_RRF_K,
    max_per_id,
    order_key,
    rrf_scores,
)
# not called here: perfbench --trace 1 wraps these names in this module
from memfuse_spark.operators.fusion import rrf_fusion, tag_store, union_results  # noqa: F401
from memfuse_spark.operators.keyword import bm25_topk, bm25_topk_from_index
from memfuse_spark.operators.similarity import similarity_topk
from memfuse_spark.threads import run_beside


T = TypeVar("T")


def _keyword_plan(
    documents: DataFrame, query_text: str, fsk: int, postings_index: str | None
) -> DataFrame:
    """The keyword branch's ≤ fsk (doc_id, score) rows, as a plan."""
    if postings_index is not None:
        return bm25_topk_from_index(documents.sparkSession, postings_index, query_text, fsk)
    return bm25_topk(documents, query_text, fsk)


def _collect_beside(side: DataFrame, main: Callable[[], T]) -> tuple[list, T]:
    """``(side.collect(), main())`` with the collect on an
    InheritableThread while the caller runs ``main``
    (:func:`~memfuse_spark.threads.run_beside`: ``side`` and every plan
    ``main`` builds are built on the caller's thread, the thread's jobs
    count under the caller's job group, and it is joined before this
    returns or raises; ``main``'s error wins, else the thread's)."""

    def collect() -> list:  # this module's frame in a failed collect's traceback
        return side.collect()

    result, rows = run_beside(side.sparkSession, main, collect)
    return rows, result


def _graph_branch(layers, fsk: int) -> list:
    """The graph branch from one query's contextual layers: one score
    per node (max over layers — a node surfaced by several layers counts
    once at its best evidence), top fsk by score desc, id asc."""
    best = max_per_id((r[0], r[1]) for r in layers)
    return sorted(best.items(), key=order_key)[:fsk]


def _fuse_and_hydrate(
    documents: DataFrame,
    branches: dict[str, list],
    weights: dict[str, float],
    rrf_k: float,
    k: int,
    cols: Sequence[str] = ("doc_id", "score", "text"),
) -> DataFrame:
    """RRF over collected k-row branches on the driver, then ONE lazy
    plan: the fused ids' documents with their sums rounded by Spark,
    ``cols`` of ``documents`` (``score`` the fused one) ordered by score
    desc, doc_id asc, top k."""
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
        .select(*[score.alias("score") if c == "score" else c for c in cols])
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
    Both branches are collected (≤ fsk rows each), the keyword one
    beside the vector one, and fused on the driver; the returned plan
    is the hydration job alone.
    Returns (doc_id, score, text) ordered by score desc, doc_id asc.
    """
    fsk = first_stage_k or 2 * k
    kw, vec = _collect_beside(
        _keyword_plan(documents, query_text, fsk, postings_index),
        lambda: similarity_topk(embeddings, qvec, fsk, id_col="vec_id").collect(),
    )
    return _fuse_and_hydrate(
        documents,
        {"vector": vec, "keyword": kw},
        weights or {"vector": 0.5, "keyword": 0.2},
        rrf_k,
        k,
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
    Every collect holds ≤ first_stage_k rows, except the graph's arc and
    rescore collects, which hold ≤ the out-degree sum of first_stage_k
    nodes. The keyword collect runs on a driver thread beside vector →
    graph (:func:`_collect_beside`), so the critical path is vector →
    graph → hydration.
    Fusion runs on the driver; the returned DataFrame is the one lazy
    hydration job. With a prebuilt postings index a recall runs 6 Spark
    jobs in all (vector 1, keyword 2, graph 2, hydration 1) and no
    checkpoint; the index's corpus stats are plan literals.
    """
    from memfuse_spark.operators.graph import contextual_retrieval

    fsk = first_stage_k or 2 * k

    def vector_then_graph():
        vec = similarity_topk(embeddings, qvec, fsk, id_col="vec_id").collect()
        return vec, contextual_retrieval(embeddings, edges, qvec, k=fsk, similar=vec).collect()

    kw, (vec, gctx) = _collect_beside(
        _keyword_plan(documents, query_text, fsk, postings_index), vector_then_graph
    )
    return _fuse_and_hydrate(
        documents,
        {"vector": vec, "graph": _graph_branch(gctx, fsk), "keyword": kw},
        weights or {"vector": 0.5, "graph": 0.3, "keyword": 0.2},
        rrf_k,
        k,
    )


def anchor_vector(spark: SparkSession, embeddings: DataFrame, vec_id: int = 0) -> list[float]:
    """Fetch one stored embedding to use as the query vector (driver-side
    query parameter, k·dim floats — not a data move)."""
    row = embeddings.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return list(row["embedding"])


def _batch_branches(
    embeddings: DataFrame,
    queries: dict[int, tuple[str, Sequence[float]]],
    fsk: int,
    postings_index: str | None,
    then: Callable[[dict], T] = lambda vec: None,
) -> tuple[dict, dict, T]:
    """A batch's vector and keyword branches, ``{query_id: [(id,
    score), ...]}`` each, and ``then(vector)``: ONE similarity join and
    ONE postings scan serve every query, each collected once (≤ queries
    × fsk rows), the keyword one beside vector → ``then``."""
    from memfuse_spark.operators.keyword import bm25_batch_topk_from_index
    from memfuse_spark.operators.similarity import similarity_join

    if postings_index is None:
        raise ValueError("the batch recalls need a prebuilt postings index")
    spark = embeddings.sparkSession
    qvecs = spark.createDataFrame(
        [(qid, list(map(float, vec))) for qid, (_, vec) in sorted(queries.items())],
        "query_id int, qvec array<double>",
    )
    texts = {qid: t for qid, (t, _) in queries.items()}

    def by_query(rows) -> dict:
        out = {q: [] for q in queries}
        for q, i, s in rows:
            out[q].append((i, s))
        return out

    def vector_then():
        vec = by_query(similarity_join(qvecs, embeddings, fsk, id_col="vec_id").collect())
        return vec, then(vec)

    kw, (vec, extra) = _collect_beside(
        bm25_batch_topk_from_index(spark, postings_index, texts, fsk), vector_then
    )
    return vec, by_query(kw), extra


def _hydrate_batch(documents: DataFrame, sums: dict[int, dict], k: int) -> DataFrame:
    """ONE lazy plan over the per-query RRF sums, in the batch oracles'
    order: round the sums with Spark's ``round(…, 6)``, keep each
    query's top k (score desc, doc_id asc), then join the documents.
    Returns (query_id, doc_id, score, text) ordered by query_id, score
    desc, doc_id asc."""
    from pyspark.sql import Window

    from memfuse_spark.functions.lits import values_df

    id_type = documents.schema["doc_id"].dataType.simpleString()
    fused = values_df(
        documents.sparkSession,
        [(q, i, s) for q, by_id in sums.items() for i, s in by_id.items()],
        [("query_id", "int"), ("doc_id", id_type), ("rrf", "double")],
    ).select("query_id", "doc_id", F.round("rrf", 6).alias("score"))
    topk_w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    top = fused.withColumn("__r", F.row_number().over(topk_w)).filter(F.col("__r") <= k)
    return (
        # broadcast the (queries x k)-row top-k into the corpus-sized
        # text lookup — never the reverse
        documents.select("doc_id", "text")
        .join(F.broadcast(top), "doc_id")
        .select("query_id", "doc_id", "score", "text")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


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
    """(query_id, doc_id, score, text) — the 2-way recall for a BATCH
    of queries: ONE corpus scan scores every query vector (broadcast
    similarity join) and ONE bucket-pruned index scan serves every
    keyword query; both are collected once, each query is fused on the
    driver exactly as :func:`hybrid_retrieval` fuses it, and the
    returned DataFrame is one hydration plan for all queries. N queries
    share one scan per branch — the amortization a retrieval SERVICE
    lives on (the reference gathers per-query asyncio tasks, reference
    services/memory_service.py:1508-1820). Needs ``postings_index``
    (``ValueError`` without it).
    """
    fsk = first_stage_k or 2 * k
    weights = weights or {"vector": 0.5, "keyword": 0.2}
    vec, kw, _ = _batch_branches(embeddings, queries, fsk, postings_index)
    sums = {
        q: rrf_scores({"vector": vec[q], "keyword": kw[q]}, weights, rrf_k) for q in queries
    }
    return _hydrate_batch(documents, sums, k)


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
    three-store recall for a BATCH of queries, each query fused exactly
    as :func:`hybrid_retrieval_3way` fuses it. One corpus scan scores
    every query vector (also every query's graph layer 1), one postings
    scan serves every keyword query, and the graph layers of all
    queries take 2 more collects (``graph.contextual_layers``). The
    returned DataFrame is one hydration plan for all queries; nothing is
    checkpointed. Needs ``postings_index`` (``ValueError`` without it).
    """
    from memfuse_spark.operators.graph import contextual_layers

    fsk = first_stage_k or 2 * k
    weights = weights or {"vector": 0.5, "graph": 0.3, "keyword": 0.2}
    qvecs = {q: v for q, (_, v) in queries.items()}
    vec, kw, layers = _batch_branches(
        embeddings,
        queries,
        fsk,
        postings_index,
        then=lambda vec: contextual_layers(embeddings, edges, qvecs, vec, fsk),
    )
    sums = {
        q: rrf_scores(
            {"vector": vec[q], "graph": _graph_branch(layers[q], fsk), "keyword": kw[q]},
            weights,
            rrf_k,
        )
        for q in queries
    }
    return _hydrate_batch(documents, sums, k)


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
    Both branches are collected and fused on the driver like
    :func:`hybrid_retrieval`; the returned plan is the hydration job.

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
    # ``postings_index`` serves the keyword branch from a prebuilt
    # corpus-wide index — ONLY valid when ``include_types`` selects the
    # entire corpus the index was built over (BM25's n_docs/avgdl/df are
    # corpus-wide stats; a narrower flag set must use the ad-hoc path so
    # the stats reflect the filtered corpus).
    kw, vec = _collect_beside(
        _keyword_plan(allowed, query_text, fsk, postings_index),
        lambda: similarity_topk(emb, qvec, fsk, id_col="doc_id").collect(),
    )
    return _fuse_and_hydrate(
        allowed,
        {"vector": vec, "keyword": kw},
        weights or {"vector": 0.5, "keyword": 0.2},
        rrf_k,
        k,
        cols=("doc_id", "item_type", "score", "text"),
    )
