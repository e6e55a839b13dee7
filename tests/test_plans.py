"""Physical-plan shape assertions: the optimizations we rely on at scale
must actually appear in the plan (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark, tables):
    df = tables["orders"].filter(F.col("o_orderkey") == 42).select("o_totalprice")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan


def test_column_pruning_reaches_parquet(spark, tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_topk_plans_take_ordered(spark, tables):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    from memfuse_spark.operators.similarity import similarity_topk
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    plan = _plan(similarity_topk(emb, qvec, 10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_dim_joins_broadcast(spark, tables):
    """The hydration join chain must broadcast every dimension table."""
    import __spark_entry__ as m

    df = m.q_revenue_by_nation(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_scoring_stays_jvm_side(spark, tables):
    """Vector scoring must stay JVM-side: no Python eval nodes in the
    plan, and the scan feeds codegen. (Higher-order-function lambdas run
    interpreted-but-JVM in Spark — that's expected; what we forbid is a
    BatchEvalPython/ArrowEvalPython stage in the scoring path.)"""
    from memfuse_spark.operators.similarity import similarity_topk
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    plan = _plan(similarity_topk(emb, qvec, 10))
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_speculative_prefetch_no_corpus_shuffle(spark, tables):
    """The prefetch context is a broadcast 1-row aggregate; the corpus
    scan ends in TakeOrderedAndProject with no corpus exchange."""
    from memfuse_spark.streaming.buffer import speculative_prefetch

    df = speculative_prefetch(tables["embeddings"], [0, 7, 13], k=10, dim=64)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "Exchange rangepartitioning" not in plan


def test_ivf_knn_join_corpus_never_shuffles(spark, tables):
    """Batch kNN join: probe list broadcasts into the corpus scan; the
    only exchanges are over query-scale data (probe ranking, per-query
    top-k windows), never hashpartitioning of the corpus by join key."""
    import __spark_entry__ as m

    df = m.q_ivf_knn_join(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the corpus side of the candidate join must be broadcast-joined,
    # not sort-merge-joined
    assert "SortMergeJoin" not in plan


def test_all_queries_no_cartesian_no_rowwise_python(spark):
    """Repo-wide scale lint: every declared query's physical plan is free
    of (a) CartesianProduct — an all-pairs shuffle that cannot survive a
    100× scale-up — and (b) BatchEvalPython, the row-at-a-time Python
    UDF path (Python is allowed only Arrow-batched: ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas)."""
    import __spark_entry__ as m

    failures = []
    for name, fn in m.queries().items():
        plan = _plan(fn(spark, SF_DIR))
        for bad in ("CartesianProduct", "BatchEvalPython"):
            if bad in plan:
                failures.append(f"{name}: {bad}")
    assert not failures, failures


def test_hard_negatives_broadcasts_anchors(spark, tables):
    """The anchor set must broadcast — the corpus is never shuffled for
    hard-negative mining (one scan + narrow ranking window)."""
    from memfuse_spark.operators.similarity import hard_negatives

    plan = _plan(hard_negatives(tables["embeddings"], [0, 7], 5))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan  # broadcast NL, never cartesian


def test_phrase_search_single_tokenize(spark, tables):
    """The token array must appear as a projected attribute, not an
    inline tokenizer re-evaluated inside the filter lambda (the no-CSE
    pathology documented in PLANS.md): exactly one regex split in the
    final plan, and no Exchange below the top-k."""
    from memfuse_spark.operators.keyword import phrase_search

    df = phrase_search(tables["documents"], ["fast", "table"], 10)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(lower(") == 1
    assert "TakeOrderedAndProject" in _plan(df)


def test_collocations_single_corpus_scan(spark, tables):
    """PMI counts derive from ONE tagged explode into a persisted count
    table: every reference in the optimized plan must read the cache
    (InMemoryRelation), never the parquet relation directly — the
    corpus is scanned once, to fill the cache."""
    from memfuse_spark.operators.textanalysis import collocations_pmi

    df = collocations_pmi(tables["documents"], k=5, min_count=2)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("InMemoryRelation") >= 1
    assert optimized.count("Relation [doc_id") == 0, "uncached corpus scan leaked"


def test_bloom_fact_side_never_sort_merge_joins(spark, tables):
    """The Bloom pre-filter's point is that the fact table is never
    shuffled for a join: the bitset is hint-broadcast, and the key-tag
    join is AQE-converted to broadcast while the keys fit (it is
    deliberately NOT hinted — customer keys grow with scale factor, so
    the size gate must stay in charge). Checked on the FINAL adaptive
    plan: after execution the fact side joined without a sort-merge."""
    from pyspark.sql import functions as F

    from memfuse_spark.operators.sketches import bloom_semi_join_stats

    keys = tables["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    df = bloom_semi_join_stats(tables["orders"], keys, "o_custkey", "o_custkey")
    df.collect()  # run so AQE finalizes the join strategies
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_prefix_filter_candidates_are_equi_join(spark, tables):
    """Candidate generation must be an equi-join on the prefix token —
    never a cartesian pair enumeration."""
    from memfuse_spark import cache
    from memfuse_spark.operators.dedup import prefix_filter_pairs

    plan = _plan(prefix_filter_pairs(tables["documents"], 0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    cache.release("dedup.prefix_toks")


def test_tpch_correlated_shapes(spark, tables):
    """TPC-H completion batch: correlated subqueries must compile to
    aggregate-then-broadcast-join (one fact shuffle), and Q21's double
    correlation to a semi + anti join pair — never a per-row probe."""
    import __spark_entry__ as m

    q21 = _plan(m.q_tpch_q21(spark, SF_DIR))
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    q2 = _plan(m.q_tpch_q2(spark, SF_DIR))
    assert "BroadcastHashJoin" in q2
    assert "SortMergeJoin" not in q2
    q17 = _plan(m.q_tpch_q17(spark, SF_DIR))
    assert "BroadcastHashJoin" in q17


def test_weighted_sample_no_shuffle(spark, tables):
    """A-ES weighted sampling is projection + TakeOrdered — the corpus
    must never shuffle."""
    from memfuse_spark.operators.sampling import weighted_sample

    plan = _plan(weighted_sample(tables["documents"], 50, "n_chars"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_rm3_pass2_prunes_index_buckets(spark):
    """The indexed RM3 second pass must scan the postings table with
    bucket pruning on the (runtime-discovered) term list — never the
    documents table."""
    import __spark_entry__ as m

    df = m.q_rm3_expand(spark, SF_DIR)
    plan = _plan(df)
    assert "mfs_postings_" in plan
    assert "SelectedBucketsCount" in plan


def test_routed_hybrid_freshness_join_broadcasts(spark):
    """The ≤k fused rows broadcast into the events scan; a SortMergeJoin
    here would shuffle the fact table for a 15-row join."""
    import __spark_entry__ as m

    plan = _plan(m.q_routed_hybrid(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_uniform_negatives_catalog_broadcasts(spark):
    """Candidate draws join the rank-indexed catalog and the positives
    via broadcast/hash joins — no cartesian anywhere (also covered by
    the repo-wide lint) and no range-partition global sort."""
    import __spark_entry__ as m

    plan = _plan(m.q_uniform_negatives(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_uniform_negatives_catalog_rank_is_partitioned(spark):
    """The distinct-item catalog rank must be the bucketed two-phase
    prefix rank: every window ordering by `item` carries a partition
    column (the range-bucket id), so no single task ever sorts the full
    catalog. A windowspecdefinition STARTING with the item ordering
    column is the unpartitioned global sort we forbid; the only
    unpartitioned window left is the ≤32-row bucket-offsets aggregate."""
    import __spark_entry__ as m

    plan = _plan(m.q_uniform_negatives(spark, SF_DIR))
    assert "windowspecdefinition(item#" not in plan


def test_graph_store_neighbor_expansion_bucket_prunes(spark):
    """The persistent edge store is src-bucketed: a 1-hop neighbor
    lookup must scan only the frontier's bucket (SelectedBucketsCount),
    not the whole graph — the O(neighborhood) read path the store
    exists for."""
    import __spark_entry__ as m
    from memfuse_spark.operators import graph as g

    _, edges = m._graph_edges(spark, SF_DIR)
    # autoBucketedScan plans a join-free bucketed scan as a plain one,
    # which still prunes to the frontier's bucket files but prints no
    # SelectedBucketsCount — pin it off for the assertion, as in
    # test_warehouse.py
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = _plan(g.neighbors(edges, 0))
        assert "SelectedBucketsCount: 1 out of" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def _analyzed_nodes(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cs = n.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))


# One marker attribute per SF-scaling table: customer is 150k×SF,
# supplier 10k×SF, part 200k×SF, documents/embeddings grow with the
# corpus. nation/region are FIXED (25/5 rows) and may broadcast freely.
_SF_SCALING_MARKERS = {
    "c_mktsegment": "customer",
    "s_acctbal": "supplier",
    "p_brand": "part",
    "n_chars": "documents",
}


def _forced_scaling_broadcasts(df) -> list[str]:
    """Every ResolvedHint(broadcast) in the analyzed logical plan whose
    subtree scans an SF-scaling parquet relation WITHOUT a
    cardinality-bounding node in between (empty-grouping scalar
    aggregate, LIMIT, or a literal-IN filter over query terms)."""
    plan = df._jdf.queryExecution().analyzed()
    bad = []
    for n in _analyzed_nodes(plan):
        if n.nodeName() != "ResolvedHint":
            continue
        scaling, bounded = [], False
        for s in _analyzed_nodes(n):
            nm = s.nodeName()
            if "Relation" in nm and s.children().isEmpty():
                out = s.output()
                names = {out.apply(i).name() for i in range(out.size())}
                scaling += [t for a, t in _SF_SCALING_MARKERS.items() if a in names]
            if nm == "Aggregate":
                ge = s.groupingExpressions()
                if ge.isEmpty():
                    bounded = True
                else:
                    # An aggregate grouped ONLY by bounded-domain bucket
                    # columns has ≤ #buckets output rows regardless of
                    # input size (sequence_pack's __b is doc_id/width
                    # with width = ceil(max_id/buckets) → ≤32 values).
                    names = set()
                    for i in range(ge.size()):
                        e = ge.apply(i)
                        # py4j proxies hasattr() as always-True, so probe
                        # name() directly: non-NamedExpressions (e.g. an
                        # un-aliased groupBy(expr(...))) raise and fall
                        # back to toString(), which never matches the
                        # bounded set — fail-closed
                        try:
                            names.add(e.name())
                        except Exception:
                            names.add(e.toString())
                    if names <= _BOUNDED_GROUPING_COLS:
                        bounded = True
            if nm in ("GlobalLimit", "LocalLimit"):
                bounded = True
            if nm == "Filter" and " IN (" in s.simpleString(25):
                bounded = True
        if scaling and not bounded:
            bad.append(f"broadcast hint over {scaling}")
    return bad


# Grouping columns whose value domain is bounded by CONSTRUCTION, not by
# the data: an Aggregate grouped only by these yields ≤ #buckets rows at
# any corpus size. `__bounded_bucket` is sequence_pack's id-range bucket
# (doc_id / width, width = ceil(max_id/buckets)) — ≤32 distinct values.
# Covers sequence_pack AND every query composed on top of it
# (pack_density, …) without per-query allowlisting. The name IS the
# contract: an operator may only emit a `__bounded_bucket` column if its
# distinct-value count is corpus-independent by construction — the
# deliberately unwieldy name exists so a casual `withColumn("__b", …)`
# with data-dependent cardinality can never collide into this exemption.
_BOUNDED_GROUPING_COLS = {"__bounded_bucket"}

# Hinted broadcasts whose build side is bounded by CONTRACT rather than
# by a plan node the detector can see. Each entry must say why.
_BOUNDED_BY_CONTRACT = {
    # the benchmark side of decontamination is a fixed external eval
    # suite — bounded by definition, whatever table the test fixture
    # derives it from
    "decontaminate",
}


def test_no_forced_broadcast_of_sf_scaling_inputs(spark):
    """A broadcast HINT overrides AQE's size gate, so it may only take
    cardinality-BOUNDED inputs: fixed dims (nation/region), scalar
    aggregates, top-k stages. customer/part/supplier/documents all grow
    with scale factor — at 100× a forced hint on them is a multi-GB
    build side on every executor (the r4 scale-killer warts). Checked
    across EVERY declared query; bounded-by-contract hints are
    allowlisted above with justification."""
    import __spark_entry__ as m

    failures = []
    for name, fn in m.queries().items():
        if name in _BOUNDED_BY_CONTRACT:
            continue
        for finding in _forced_scaling_broadcasts(fn(spark, SF_DIR)):
            failures.append(f"{name}: {finding}")
    assert not failures, failures


def test_interval_overlap_join_is_bucket_equi_join(spark):
    """The overlap predicate must never become the JOIN condition (a
    nested-loop / theta join is the all-pairs shape that dies at scale):
    the equi-key is the discretized __bucket column, with the overlap
    predicate as an in-bucket residual filter."""
    from memfuse_spark.operators.temporal import interval_overlap_join

    H = 3_600_000_000
    left = spark.range(2000).select(
        F.col("id").alias("lid"),
        (F.col("id") * H).alias("s"),
        (F.col("id") * H + H).alias("e"),
    )
    right = spark.range(2000).select(
        F.col("id").alias("rid"),
        (F.col("id") * H + H // 2).alias("rs"),
        (F.col("id") * H + H).alias("re"),
    )
    df = interval_overlap_join(left, right, "s", "e", "rs", "re")
    plan = _plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_exact_dedup_tier_serves_from_postings_index(spark):
    """The exact AllPairs tier and the hashed-BoW vector build must read
    the persistent postings index, never re-tokenize the corpus: their
    plans scan the mfs_postings_* table and touch documents.parquet not
    at all (served-index contract, r4 VERDICT items 7-9 pattern)."""
    import __spark_entry__ as m
    from memfuse_spark import cache

    stats = _plan(m.q_prefix_filter_stats(spark, SF_DIR))
    assert "mfs_postings_" in stats
    assert "documents.parquet" not in stats
    cache.release("dedup.prefix_toks")

    # semdedup's final plan starts at an eager localCheckpoint (cells
    # LogicalRDD), so the index read is asserted on the vector-build
    # subplan it materializes from.
    from memfuse_spark.operators.textanalysis import hashed_bow_vectors

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vecs = _plan(
        hashed_bow_vectors(
            docs, postings=spark.table(m._postings_index(spark, SF_DIR))
        )
    )
    assert "mfs_postings_" in vecs
    assert "documents.parquet" not in vecs


def test_lifecycle_slots_serve_from_prebuilt_stores(spark):
    """Round-7 lifecycle split (VERDICT r6 #6): with the fixture
    builders warm, the index_compact / bm25_stream_index /
    ann_store_lifecycle query plans are index/store probes — they scan
    the prebuilt artifact, never documents.parquet / embeddings.parquet
    (the build is ingest-time work charged to fixtures in bench)."""
    import __spark_entry__ as m

    # warm the memoized builders (what bench.py's fixture block does)
    m._postings_index_c(spark, SF_DIR)
    m._stream_index(spark, SF_DIR)
    m._bucketed_store_lc(spark, SF_DIR)

    p1 = _plan(m.q_index_compact(spark, SF_DIR))
    assert "mfs_postings2c_" in p1
    assert "documents.parquet" not in p1

    p2 = _plan(m.q_bm25_stream_index(spark, SF_DIR))
    assert "memfuse_stream_idx" in p2
    assert "documents.parquet" not in p2

    p3 = _plan(m.q_ann_store_lifecycle(spark, SF_DIR))
    assert "memfuse_bucketed_lc" in p3
    assert "embeddings.parquet" not in p3


def test_fixture_stores_live_under_a_root_of_their_own_process():
    """The memoized registry stores are built under one root per
    process: two fixtures of this process share it, another process
    gets a different one and removes its own at exit, so no process
    rebuilds a store under another that is reading it."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    import __spark_entry__ as m

    root = m._fixture_dir()
    assert os.path.isdir(root)
    assert m._fixture_dir("memfuse_idx") == os.path.join(root, "memfuse_idx")
    assert m._fixture_dir("memfuse_stream_idx", "t") == os.path.join(root, "memfuse_stream_idx", "t")
    out = subprocess.run(
        [sys.executable, "-c", "import __spark_entry__ as m; print(m._fixture_dir())"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    other = os.path.normpath(out.stdout.strip().splitlines()[-1])
    assert other != os.path.normpath(root)
    assert not os.path.exists(other)
