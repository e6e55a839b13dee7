"""Graph operators on a small hand-built graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from memfuse_spark.operators import graph as g

# src, dst, weight, relation
EDGES = [
    (0, 1, 0.9, "SIMILAR_TO"),
    (0, 2, 0.5, "SIMILAR_TO"),
    (0, 1, 1.0, "FOLLOWS"),
    (1, 3, 0.7, "SIMILAR_TO"),
    (3, 4, 0.6, "SIMILAR_TO"),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(
        EDGES, "src bigint, dst bigint, weight double, relation string"
    )


def test_neighbors_sorted_by_weight(edges):
    got = g.neighbors(edges, 0).collect()
    assert [(r.dst, r.relation) for r in got] == [
        (1, "FOLLOWS"),
        (1, "SIMILAR_TO"),
        (2, "SIMILAR_TO"),
    ]


def test_neighbors_relation_filter(edges):
    got = g.neighbors(edges, 0, relation="FOLLOWS").collect()
    assert [(r.dst, r.weight) for r in got] == [(1, 1.0)]


def test_edges_between(edges):
    got = g.edges_between(edges, 0, 1).collect()
    assert {r.relation for r in got} == {"SIMILAR_TO", "FOLLOWS"}


def test_k_hop(edges):
    got = {r.node_id: r.hop for r in g.k_hop(edges, [0], 2).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def test_similarity_edges_symmetric(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    got = g.build_similarity_edges(emb, threshold=0.9).collect()
    pairs = {(r.src, r.dst) for r in got}
    assert (0, 1) in pairs and (1, 0) in pairs
    assert all(2 not in p for p in pairs)


def test_follows_edges_skip_gaps(spark):
    emb = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0]), (5, [1.0])], "vec_id bigint, embedding array<double>"
    )
    got = {(r.src, r.dst) for r in g.build_follows_edges(emb).collect()}
    assert got == {(0, 1)}  # 1→2 and 5→6 have no target node


def test_checkpoint_hygiene_zero_rdds_after_release(spark):
    """localCheckpoint blocks are RDD-level persists that
    DataFrame.unpersist() cannot release; the scoped tracker must. After
    cc (in-loop supersede drop) + k_hop (deep enough to checkpoint) +
    release_all, the session holds zero persistent RDDs."""
    from memfuse_spark import cache

    cache.release_all()
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0, "SIMILAR_TO") for i in range(8)],
        "src bigint, dst bigint, weight double, relation string",
    )
    comps = {r.node: r.component for r in g.connected_components(chain).collect()}
    assert set(comps.values()) == {0}
    hops = {r.node_id: r.hop for r in g.k_hop(chain, [0], 7).collect()}
    assert hops[7] == 7
    cache.release_all()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_twophase_cc_matches_minlabel_random(spark):
    """Large-star/small-star must produce exactly min-label's labeling
    (component = min node id) on an arbitrary graph."""
    import random

    rng = random.Random(7)
    e = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    a = {r.node: r.component for r in g.connected_components(edges).collect()}
    b = {r.node: r.component for r in g.connected_components_twophase(edges).collect()}
    # min-label keeps self-loop-only nodes; twophase drops self loops, so
    # compare on the union domain with identity fallback
    assert b == {n: a.get(n, n) for n in b}
    assert set(a) >= set(b)


def test_twophase_cc_chain_and_hygiene(spark):
    """A 40-node chain (diameter 39) — the min-label worst case — and
    zero persistent RDDs after release."""
    from memfuse_spark import cache

    cache.release_all()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src bigint, dst bigint"
    )
    got = {r.node: r.component for r in g.connected_components_twophase(chain).collect()}
    assert got == {i: 0 for i in range(40)}
    cache.release_all()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def test_pagerank_mass_and_star_shape(spark):
    from memfuse_spark.operators.graph import pagerank

    # star: 1..4 all point at 0; 0 points at 1 (so 0 is not dangling)
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], ["src", "dst"]
    )
    rows = pagerank(edges, iterations=20).collect()
    ranks = {r.node: r.rank for r in rows}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4  # mass conserved
    assert max(ranks, key=ranks.get) == 0  # hub dominates
    assert ranks[2] == ranks[3] == ranks[4]  # symmetric leaves tie


def test_pagerank_dangling_mass_redistributed(spark):
    from memfuse_spark.operators.graph import pagerank

    # 0 -> 1, 1 has no out-edges: without dangling redistribution the
    # total mass leaks each round.
    edges = spark.createDataFrame([(0, 1)], ["src", "dst"])
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=15).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    assert ranks[1] > ranks[0]


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    """On two disconnected components, PPR mass stays entirely in the
    seed's component, and the seed outranks its peers."""
    from pyspark.sql import functions as F

    from memfuse_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1),         # seed component (cycle)
         (10, 11), (11, 12), (12, 10)],  # far component
        "src long, dst long",
    )
    # a directed 3-cycle rotates mass with residual 0.85^k — 40 rounds
    # damp it to ~1e-3 so the stationary ordering (seed on top) holds
    ranks = {r["node"]: r["rank"]
             for r in personalized_pagerank(edges, [1], iterations=40).collect()}
    assert set(ranks) <= {1, 2, 3}          # no mass leaks to 10-12
    assert ranks[1] == max(ranks.values())  # restart favors the seed
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    # analytic stationary solution of the damped cycle
    r1 = 0.15 / (1 - 0.85 ** 3)
    assert abs(ranks[1] - r1) < 5e-3


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------

def test_label_propagation_splits_two_cliques(spark):
    from memfuse_spark.operators.graph import label_propagation

    # two 4-cliques joined by a single bridge edge: CC would merge them,
    # LPA keeps two communities
    clique1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(
        clique1 + clique2 + bridge, "src bigint, dst bigint"
    )
    got = {r.node: r.community for r in label_propagation(edges, 4).collect()}
    c1 = {got[n] for n in range(4)}
    c2 = {got[n] for n in range(10, 14)}
    assert len(c1) == 1 and len(c2) == 1
    assert c1 != c2


def test_label_propagation_symmetric_pair_oscillates_deterministically(spark):
    """Synchronous LPA label-swaps on a bare symmetric pair (the known
    bipartite oscillation artifact) — after an even round count each
    node holds its own label again. The fixed round count makes the
    artifact deterministic, which is what the oracle contract needs."""
    from memfuse_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(5, 6)], "src bigint, dst bigint")
    even = {r.node: r.community for r in label_propagation(edges, 4).collect()}
    assert even == {5: 5, 6: 6}
    odd = {r.node: r.community for r in label_propagation(edges, 3).collect()}
    assert odd == {5: 6, 6: 5}


def test_kcore_peels_to_known_core(spark):
    """A 4-clique with pendant chains: the 3-core is exactly the clique
    (every chain node peels away), and one extra round changes
    nothing (convergence)."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chains = [(0, 10), (10, 11), (11, 12), (2, 20)]
    edges = spark.createDataFrame(
        clique + chains, "src bigint, dst bigint"
    ).withColumn("weight", F.lit(1.0)).withColumn("relation", F.lit("X"))
    got = {r.node: r.degree for r in g.kcore_nodes(edges, k=3, rounds=4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    again = {r.node: r.degree for r in g.kcore_nodes(edges, k=3, rounds=5).collect()}
    assert again == got


def test_kcore_converges_on_corpus_graph(spark, tables):
    """6 rounds must be a fixpoint on the real similarity graph — one
    more round returns the identical node set and degrees."""
    emb = tables["embeddings"]
    edges = g.build_similarity_edges(emb).unionByName(
        g.build_follows_edges(emb)
    )
    a = sorted(map(tuple, g.kcore_nodes(edges, k=3, rounds=6).collect()))
    b = sorted(map(tuple, g.kcore_nodes(edges, k=3, rounds=7).collect()))
    assert a == b
    # the 3-core may legitimately be empty at this SF; the 2-core keeps
    # every FOLLOWS-chain interior node and must not be
    two = g.kcore_nodes(edges, k=2, rounds=6).count()
    assert two > 0


def test_knn_edges_degree_bounded_by_k(spark, tables):
    """The bounded-degree store contract: every node's SIMILAR_TO
    out-degree is ≤ k BY CONSTRUCTION (mutual top-k arcs), total
    SIMILAR_TO arcs ≤ n·k, and the edge set is symmetric — the physical
    shape that survives 100× corpus growth where a fixed threshold
    densifies quadratically (round-9 density probe)."""
    emb = tables["embeddings"]
    k = 5
    edges = g.build_knn_edges(emb, k=k)
    sim = edges.filter(F.col("relation") == "SIMILAR_TO")
    max_deg = sim.groupBy("src").count().agg(F.max("count")).first()[0]
    assert max_deg is not None and max_deg <= k
    n = emb.count()
    assert sim.count() <= n * k
    # symmetry: every (src, dst) arc has its (dst, src) reverse
    fwd = {(r.src, r.dst) for r in sim.select("src", "dst").collect()}
    assert all((d, s) in fwd for s, d in fwd)


def test_knn_edges_store_bucket_prunes(spark, tables):
    """The persistent kNN store keeps the threshold store's read path:
    a 1-hop lookup scans only the frontier's src bucket."""
    import tempfile

    emb = tables["embeddings"]
    g.build_knn_edges_store(
        spark, emb, "mfs_knn_edges_teststore",
        path=tempfile.mkdtemp(prefix="mfs_knn_store_"),
    )
    edges = spark.table("mfs_knn_edges_teststore")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = g.neighbors(edges, 0)._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


# ---------------------------------------------------------------------------
# incremental (frozen-quantizer) kNN store
# ---------------------------------------------------------------------------


def _edge_rows(df):
    return sorted(
        (r.src, r.dst, round(r.weight, 6), r.relation)
        for r in df.select("src", "dst", "weight", "relation").collect()
    )


def _arc_rows(df):
    return sorted(
        (r.src, r.dst, round(r.score, 6))
        for r in df.select("src", "dst", "score").collect()
    )


@pytest.fixture(scope="module")
def inc_emb(spark, tables):
    """A deterministic 120-vector slice of the sf0.001 embeddings —
    small enough for per-test store builds, real enough to exercise
    multi-cell probing."""
    return tables["embeddings"].filter(F.col("vec_id") < 120)


def test_knn_store_append_equals_frozen_full_build(spark, inc_emb, tmp_path):
    """THE append contract: build(base) + append(batch) must serve the
    exact edge table of a frozen-quantizer full build over base∪batch
    with the base as fit — same quantizer, same kNN, same mutuality.
    This is the Spark-side twin of oracles.knn_store_inc_edges_sql."""
    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)

    p_inc = str(tmp_path / "inc")
    g.build_knn_store_inc(spark, base, p_inc, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch, p_inc)

    p_full = str(tmp_path / "full")
    g.build_knn_store_inc(spark, inc_emb, p_full, k=3, nprobe=2,
                          target_cell_size=30, fit=base)

    got = _edge_rows(g.knn_store_edges(spark, p_inc))
    want = _edge_rows(g.knn_store_edges(spark, p_full))
    assert got == want and len(want) > 0
    assert _arc_rows(g.knn_store_arcs(spark, p_inc)) == _arc_rows(
        g.knn_store_arcs(spark, p_full)
    )


def test_knn_store_two_appends_compose(spark, inc_emb, tmp_path):
    """Appends compose: build(A)+append(B)+append(C) serves the same
    state as the frozen full build with fit=A — per-pair last-writer
    masking across generations is exact, including pairs whose
    endpoints were re-keyed in different generations."""
    a = inc_emb.filter(F.col("vec_id") % 3 == 1)
    b = inc_emb.filter(F.col("vec_id") % 3 == 2)
    c = inc_emb.filter(F.col("vec_id") % 3 == 0)

    p_inc = str(tmp_path / "inc")
    g.build_knn_store_inc(spark, a, p_inc, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, b, p_inc)
    g.append_knn_store(spark, c, p_inc)

    p_full = str(tmp_path / "full")
    g.build_knn_store_inc(spark, inc_emb, p_full, k=3, nprobe=2,
                          target_cell_size=30, fit=a)

    assert _edge_rows(g.knn_store_edges(spark, p_inc)) == _edge_rows(
        g.knn_store_edges(spark, p_full)
    )


def test_knn_store_compaction_preserves_served_state(spark, inc_emb, tmp_path):
    """compact_knn_store folds deltas into the base (shadow-write +
    swap) without changing the served views, and removes the delta
    dirs so subsequent reads skip the masking joins."""
    import os

    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)
    p = str(tmp_path / "store")
    g.build_knn_store_inc(spark, base, p, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch, p)

    before_edges = _edge_rows(g.knn_store_edges(spark, p))
    before_arcs = _arc_rows(g.knn_store_arcs(spark, p))
    counts = g.compact_knn_store(spark, p)
    assert counts["arcs_delta"] > 0 and counts["edges_delta"] > 0
    assert not os.path.exists(os.path.join(p, "arcs_delta"))
    assert not os.path.exists(os.path.join(p, "edges_delta"))
    assert _edge_rows(g.knn_store_edges(spark, p)) == before_edges
    assert _arc_rows(g.knn_store_arcs(spark, p)) == before_arcs
    # idempotent on an already-compacted store
    assert g.compact_knn_store(spark, p)["arcs_delta"] == 0


def test_knn_store_rebuild_clears_stale_deltas(spark, inc_emb, tmp_path):
    """A rebuild at the same path IS the retrain: delta files from the
    previous store generation must not leak into the fresh state."""
    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)
    p = str(tmp_path / "store")
    g.build_knn_store_inc(spark, base, p, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch, p)
    # retrain over the full corpus
    g.build_knn_store_inc(spark, inc_emb, p, k=3, nprobe=2,
                          target_cell_size=30)

    p_ref = str(tmp_path / "ref")
    g.build_knn_store_inc(spark, inc_emb, p_ref, k=3, nprobe=2,
                          target_cell_size=30)
    assert _edge_rows(g.knn_store_edges(spark, p)) == _edge_rows(
        g.knn_store_edges(spark, p_ref)
    )


def test_knn_store_append_drops_null_embeddings(spark, inc_emb, tmp_path):
    """NULL vectors are nobody's neighbor — an appended batch carrying
    NULL embeddings serves the same state as the batch without them
    (the mutual_knn_pairs NULL contract, kept by the store)."""
    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)
    batch = batch.select("vec_id", F.col("embedding").cast("array<float>"))
    nulls = spark.createDataFrame(
        [(100000, None), (100001, None)],
        "vec_id bigint, embedding array<float>",
    )
    p_a = str(tmp_path / "with_nulls")
    g.build_knn_store_inc(spark, base, p_a, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch.unionByName(nulls), p_a)
    p_b = str(tmp_path / "without")
    g.build_knn_store_inc(spark, base, p_b, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch, p_b)
    assert _edge_rows(g.knn_store_edges(spark, p_a)) == _edge_rows(
        g.knn_store_edges(spark, p_b)
    )


def test_knn_store_drift_reports_and_retrain_clears(spark, inc_emb, tmp_path):
    """The drift report is the when-to-retrain knob: after appends it
    accounts every served row exactly once (n_rows), flags rows in
    never-fitted cells as unreachable-by-probing, and a retrain (fresh
    build over the full corpus) zeroes both drift counters because the
    codebook now covers every cell."""
    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)
    p = str(tmp_path / "store")
    g.build_knn_store_inc(spark, base, p, k=3, nprobe=2,
                          target_cell_size=30)
    g.append_knn_store(spark, batch, p)

    row = g.knn_store_drift(spark, p).first()
    assert row.n_rows == inc_emb.count()
    assert row.new_cells >= 0 and row.rows_new_cells >= 0
    assert row.max_cell_rows <= row.n_rows
    assert 0.0 <= row.hot_row_share <= 1.0

    g.build_knn_store_inc(spark, inc_emb, p, k=3, nprobe=2,
                          target_cell_size=30)
    row2 = g.knn_store_drift(spark, p).first()
    assert row2.new_cells == 0 and row2.rows_new_cells == 0


def test_knn_store_crashed_append_invisible_and_retry_clean(
    spark, inc_emb, tmp_path
):
    """Crash-safety contract: an append's generation is visible only
    after its commit marker lands. Simulated crash = a completed append
    whose commits dir is then removed — every reader must serve the
    PRE-append state; the retry takes a fresh generation past the
    orphaned rows and converges to the frozen-full-build state, and a
    compaction folds the orphans away."""
    import os
    import shutil

    base = inc_emb.filter(F.col("vec_id") % 4 != 0)
    batch = inc_emb.filter(F.col("vec_id") % 4 == 0)
    p = str(tmp_path / "store")
    g.build_knn_store_inc(spark, base, p, k=3, nprobe=2,
                          target_cell_size=30)
    base_edges = _edge_rows(g.knn_store_edges(spark, p))

    g.append_knn_store(spark, batch, p)
    shutil.rmtree(os.path.join(p, "commits"))  # "crash" before commit

    assert _edge_rows(g.knn_store_edges(spark, p)) == base_edges
    assert g.knn_store_vecs(spark, p).count() == base.count()

    g.append_knn_store(spark, batch, p)  # retry

    p_full = str(tmp_path / "full")
    g.build_knn_store_inc(spark, inc_emb, p_full, k=3, nprobe=2,
                          target_cell_size=30, fit=base)
    want = _edge_rows(g.knn_store_edges(spark, p_full))
    assert _edge_rows(g.knn_store_edges(spark, p)) == want

    g.compact_knn_store(spark, p)
    assert _edge_rows(g.knn_store_edges(spark, p)) == want
    assert g.knn_store_vecs(spark, p).count() == inc_emb.count()


def _recall_fixture(spark, tables):
    import __spark_entry__ as m
    from memfuse_spark.plans.pipeline import anchor_vector
    from tests.conftest import SF_DIR

    emb, edges = m._graph_edges(spark, SF_DIR)
    qvecs = [anchor_vector(spark, emb, i) for i in (0, 1, 2)]
    return emb, edges, tables["documents"], m._postings_index(spark, SF_DIR), qvecs


def test_recall_results_survive_later_recalls(spark, tables):
    """A recall's result, single or batch, stays collectable after two
    more recalls were built. When the graph layers were localCheckpoints
    kept for one prior generation per scope, the third call released the
    first result's blocks and its collect failed with a Py4JJavaError."""
    from memfuse_spark.plans.pipeline import (
        hybrid_batch_retrieval_3way,
        hybrid_retrieval_3way,
    )

    emb, edges, docs, idx, (q0, q1, q2) = _recall_fixture(spark, tables)

    a = g.contextual_retrieval(emb, edges, q0, k=10)
    for q in (q1, q2):
        g.contextual_retrieval(emb, edges, q, k=10)
    got = a.collect()
    assert got == g.contextual_retrieval(emb, edges, q0, k=10).collect()
    assert {r.layer for r in got} == {"similar", "connected", "similar_contextual"}

    def recall(q):
        return hybrid_retrieval_3way(
            docs, emb, edges, "spark table scan query", q, k=10, postings_index=idx
        )

    a = recall(q0)
    for q in (q1, q2):
        recall(q)
    got = a.collect()
    assert got == recall(q0).collect()
    assert len(got) == 10

    def batch(*qs):
        queries = {i: ("spark table scan query", q) for i, q in enumerate(qs)}
        return hybrid_batch_retrieval_3way(
            docs, emb, edges, queries, k=10, postings_index=idx
        )

    a = batch(q0, q1)
    for qs in ((q1, q2), (q2, q0)):
        batch(*qs)
    got = a.collect()
    assert got == batch(q0, q1).collect()
    assert [r.query_id for r in got] == [0] * 10 + [1] * 10


def test_recall_output_schemas_unchanged(spark, tables):
    import __spark_entry__ as m
    from memfuse_spark.plans.pipeline import (
        hybrid_batch_retrieval,
        hybrid_batch_retrieval_3way,
        hybrid_retrieval_3way,
        hybrid_retrieval_with_flags,
    )

    emb, edges, docs, idx, (q0, q1, _) = _recall_fixture(spark, tables)
    ctx = g.contextual_retrieval(emb, edges, q0, k=10)
    assert ctx.dtypes == [("vec_id", "bigint"), ("score", "double"), ("layer", "string")]
    rec = hybrid_retrieval_3way(docs, emb, edges, "spark query", q0, k=10, postings_index=idx)
    assert rec.dtypes == [("doc_id", "bigint"), ("score", "double"), ("text", "string")]
    queries = {0: ("spark query", q0), 1: ("table scan", q1)}
    batch = [("query_id", "int"), ("doc_id", "bigint"), ("score", "double"), ("text", "string")]
    assert hybrid_batch_retrieval(docs, emb, queries, k=10, postings_index=idx).dtypes == batch
    b3 = hybrid_batch_retrieval_3way(docs, emb, edges, queries, k=10, postings_index=idx)
    assert b3.dtypes == batch
    typed = hybrid_retrieval_with_flags(
        m._typed_corpus_with_knowledge(docs), "spark query", [0.1] * 16, k=5, dim=16
    )
    assert typed.dtypes == [
        ("doc_id", "bigint"), ("item_type", "string"), ("score", "double"), ("text", "string")
    ]
