"""The recalls (pipeline.hybrid_retrieval / hybrid_retrieval_3way and
their batch forms): exact rows on degenerate inputs over a hand-built
fixture, batch rows against the single recall's, the driver-side RRF
against the Spark plan, errors on either side of the keyword branch's
driver thread, and job-count guards."""

from __future__ import annotations

import threading

import pytest
from pyspark import InheritableThread
from hypothesis import given, settings
from hypothesis import strategies as st

from memfuse_spark.operators import graph as g
from memfuse_spark.operators.fusion import rrf_fusion
from memfuse_spark.operators.keyword import build_postings_index
from memfuse_spark.plans.pipeline import (
    _fuse_and_hydrate,
    hybrid_batch_retrieval,
    hybrid_batch_retrieval_3way,
    hybrid_retrieval,
    hybrid_retrieval_3way,
)

DOCS = [
    (1, "apple banana"),
    (2, "banana cherry"),
    (3, "cherry date"),
    (4, "apple apple"),
    (5, "elder"),
]
# cosine with q=[1, 0]: 1 → 1.0, 2 → 0.8, 3 → 0.0, 4 → -1.0, 5 → 0.6
VECS = [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0]), (4, [-1.0, 0.0]), (5, [0.6, -0.8])]
# node 5 has no out-edges
EDGES = [
    (1, 3, 0.9, "SIMILAR_TO"),
    (1, 4, 0.25, "SIMILAR_TO"),
    (2, 4, 0.5, "SIMILAR_TO"),
    (3, 5, 0.7, "SIMILAR_TO"),
]
W3 = {"vector": 0.5, "graph": 0.3, "keyword": 0.2}


@pytest.fixture(scope="module")
def fx(spark):
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    emb = spark.createDataFrame(VECS, "vec_id bigint, embedding array<double>")
    edges = spark.createDataFrame(
        EDGES, "src bigint, dst bigint, weight double, relation string"
    )
    return docs, emb, edges


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_no_vocabulary_term_leaves_keyword_branch_empty(fx):
    docs, emb, edges = fx
    # vector [1, 2]; graph max over layers {1: 1.0, 3: 0.9, 2: 0.8, 4: 0.5}
    # capped at 2 → [1, 3]; keyword []. RRF at k=60:
    # 1 = 0.5/61 + 0.3/61, 2 = 0.5/62, 3 = 0.3/62
    got = hybrid_retrieval_3way(
        docs, emb, edges, "zebra", [1.0, 0.0], k=5, first_stage_k=2, weights=W3
    )
    assert _rows(got) == [
        (1, 0.013115, "apple banana"),
        (2, 0.008065, "banana cherry"),
        (3, 0.004839, "cherry date"),
    ]
    two_way = hybrid_retrieval(docs, emb, "zebra", [1.0, 0.0], k=5, first_stage_k=2)
    assert _rows(two_way) == [(1, 0.008197, "apple banana"), (2, 0.008065, "banana cherry")]


def test_zero_query_vector_orders_ties_by_id(fx):
    docs, emb, edges = fx
    ctx = g.contextual_retrieval(emb, edges, [0.0, 0.0], k=2)
    assert _rows(ctx) == [
        (3, 0.9, "connected"),
        (4, 0.5, "connected"),
        (1, 0.0, "similar"),
        (2, 0.0, "similar"),
        (3, 0.0, "similar_contextual"),
        (4, 0.0, "similar_contextual"),
    ]
    # vector [1, 2] (all cosines 0); graph [3 (0.9), 4 (0.5)];
    # keyword [5] ("elder" occurs in doc 5 only)
    got = hybrid_retrieval_3way(
        docs, emb, edges, "elder", [0.0, 0.0], k=5, first_stage_k=2, weights=W3
    )
    assert _rows(got) == [
        (1, 0.008197, "apple banana"),
        (2, 0.008065, "banana cherry"),
        (3, 0.004918, "cherry date"),
        (4, 0.004839, "apple apple"),
        (5, 0.003279, "elder"),
    ]


def test_layer_one_without_out_edges(fx):
    docs, emb, edges = fx
    # q=[0, -1]: node 5 (cosine 0.8) is layer 1 and has no out-edges
    ctx = g.contextual_retrieval(emb, edges, [0.0, -1.0], k=1)
    assert _rows(ctx) == [(5, 0.8, "similar")]
    got = hybrid_retrieval_3way(
        docs, emb, edges, "zebra", [0.0, -1.0], k=2, first_stage_k=1, weights=W3
    )
    assert _rows(got) == [(5, 0.013115, "elder")]


def test_batch_rows_equal_single_recalls(spark, fx, tmp_path):
    """One batch of the three degenerate queries above (no vocabulary
    term, a zero vector, a layer 1 of node 5 alone) answers each query
    with exactly the single recall's rows, 3-way and 2-way."""
    docs, emb, edges = fx
    idx = "test_recall_postings"
    build_postings_index(spark, docs, idx, path=str(tmp_path))
    queries = {0: ("zebra", [1.0, 0.0]), 1: ("elder", [0.0, 0.0]), 2: ("zebra", [0.0, -1.0])}
    opts = dict(k=5, first_stage_k=1, postings_index=idx)
    batches = {
        "3way": hybrid_batch_retrieval_3way(docs, emb, edges, queries, weights=W3, **opts),
        "2way": hybrid_batch_retrieval(docs, emb, queries, **opts),
    }
    for name, batch in batches.items():
        got = {q: [] for q in queries}
        for r in batch.collect():
            got[r.query_id].append((r.doc_id, r.score, r.text))
        for q, (text, vec) in queries.items():
            if name == "3way":
                single = hybrid_retrieval_3way(docs, emb, edges, text, vec, weights=W3, **opts)
            else:
                single = hybrid_retrieval(docs, emb, text, vec, **opts)
            assert got[q] and got[q] == _rows(single), (name, q)


def test_batch_without_postings_index_raises(fx):
    docs, emb, edges = fx
    queries = {0: ("apple", [1.0, 0.0])}
    with pytest.raises(ValueError, match="postings index"):
        hybrid_batch_retrieval(docs, emb, queries, k=2)
    with pytest.raises(ValueError, match="postings index"):
        hybrid_batch_retrieval_3way(docs, emb, edges, queries, k=2)


def _single_3way(docs, emb, edges, opts):
    return hybrid_retrieval_3way(docs, emb, edges, "apple", [1.0, 0.0], **opts)


def _batch_3way(docs, emb, edges, opts):
    queries = {0: ("apple", [1.0, 0.0]), 1: ("cherry", [0.0, 1.0])}
    return hybrid_batch_retrieval_3way(docs, emb, edges, queries, **opts)


def _no_thread_or_job_left(spark):
    assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []


@pytest.mark.parametrize("recall", [_single_3way, _batch_3way])
def test_keyword_thread_error_fails_the_recall(spark, fx, tmp_path, recall):
    """The keyword branch collects on a driver thread: when that collect
    fails (its postings files deleted after the table's files were
    listed), the recall raises the error on the caller, from the
    thread's collect, and leaves no job running."""
    docs, emb, edges = fx
    idx = f"test_recall_broken_{recall.__name__.strip('_')}"
    build_postings_index(spark, docs, idx, path=str(tmp_path))
    opts = dict(k=5, first_stage_k=2, weights=W3, postings_index=idx)
    assert recall(docs, emb, edges, opts).collect()
    for f in (tmp_path / idx).glob("part-*"):
        f.unlink()
    with pytest.raises(Exception, match="FILE_NOT_EXIST") as err:
        recall(docs, emb, edges, opts)
    assert any(e.name == "collect" and e.path.name == "pipeline.py" for e in err.traceback)
    _no_thread_or_job_left(spark)


@pytest.mark.parametrize("recall", [_single_3way, _batch_3way])
def test_caller_branch_error_joins_the_keyword_thread(spark, fx, tmp_path, recall):
    """The vector branch raises on the caller (embeddings without
    ``vec_id``) while the keyword collect runs on its thread: the recall
    raises that error only after joining the thread, so no thread and
    no job of the recall is left."""
    from pyspark.errors import AnalysisException

    docs, emb, edges = fx
    idx = f"test_recall_joined_{recall.__name__.strip('_')}"
    build_postings_index(spark, docs, idx, path=str(tmp_path))
    opts = dict(k=5, first_stage_k=2, weights=W3, postings_index=idx)
    with pytest.raises(AnalysisException, match="vec_id"):
        recall(docs, emb.withColumnRenamed("vec_id", "id"), edges, opts)
    _no_thread_or_job_left(spark)


_ids = st.integers(min_value=0, max_value=12)
_scores = st.one_of(st.none(), st.sampled_from([-0.5, 0.0, 0.25, 0.5, 1.0]))
_branch = st.dictionaries(_ids, _scores, max_size=8)


@given(st.fixed_dictionaries({"vector": _branch, "graph": _branch, "keyword": _branch}))
@settings(max_examples=25, deadline=None)
def test_driver_rrf_matches_spark_rrf(spark, branches):
    """On tied branch lists (scores drawn from a handful of values, NULLs
    included), the driver-side sums rounded by Spark equal rrf_fusion's
    scores for every fused id."""
    rows = [
        (i, s, store) for store, b in branches.items() for i, s in b.items()
    ]
    want = {}
    if rows:
        union = spark.createDataFrame(rows, "doc_id bigint, score double, store_type string")
        want = {r.doc_id: r.score for r in rrf_fusion(union, W3, rrf_k=60.0).collect()}
    docs = spark.createDataFrame([(i, str(i)) for i in range(13)], "doc_id bigint, text string")
    got = _fuse_and_hydrate(
        docs, {s: list(b.items()) for s, b in branches.items()}, W3, 60.0, k=20
    ).collect()
    assert {r.doc_id: r.score for r in got} == want
    keys = [(-r.score, r.doc_id) for r in got]
    assert keys == sorted(keys)


def test_recall_job_budget_and_no_cached_blocks(spark, tables):
    """One 3-way recall on the prebuilt index and edge store runs at most
    6 Spark jobs, a 3-query batch recall at most 13, and neither leaves a
    persisted RDD behind: a regression to lazily re-planned branches, to
    checkpointed layers, to a job for the index's corpus stats or to a
    scanned query-term table fails here."""
    import __spark_entry__ as m
    from memfuse_spark.plans.pipeline import anchor_vector
    from tests.conftest import SF_DIR

    emb, edges = m._graph_edges(spark, SF_DIR)
    idx = m._postings_index(spark, SF_DIR)
    qvec = anchor_vector(spark, emb, 0)
    docs = tables["documents"]
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    sc.setJobGroup("test-recall-job-budget", "one hybrid_retrieval_3way recall")
    try:
        rows = hybrid_retrieval_3way(
            docs, emb, edges, "spark table scan query", qvec, k=15,
            first_stage_k=30, postings_index=idx,
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 15
    jobs = sc.statusTracker().getJobIdsForGroup("test-recall-job-budget")
    assert 0 < len(jobs) <= 6
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) <= before

    queries = {i: (t, anchor_vector(spark, emb, i)) for i, t in enumerate(
        ("spark table scan query", "fast vector merge", "customer orders batch stream")
    )}
    sc.setJobGroup("test-recall-job-budget-batch", "one 3-query hybrid_batch_retrieval_3way")
    try:
        rows = hybrid_batch_retrieval_3way(
            docs, emb, edges, queries, k=15, first_stage_k=30, postings_index=idx
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 45
    jobs = sc.statusTracker().getJobIdsForGroup("test-recall-job-budget-batch")
    assert 0 < len(jobs) <= 13
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) <= before
