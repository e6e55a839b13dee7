"""ANN operators: bucket determinism, probe behavior, recall vs exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from memfuse_spark.operators.ann import (
    ann_ivf_topk,
    ann_lsh_topk,
    ivf_assign,
    ivf_centroids,
    lsh_bucket,
)
from memfuse_spark.operators.similarity import similarity_topk
from memfuse_spark.plans.pipeline import anchor_vector


def test_lsh_bucket_deterministic(spark, tables):
    emb = tables["embeddings"]
    dim = len(emb.select("embedding").first()["embedding"])
    b1 = emb.select("vec_id", lsh_bucket("embedding", dim, 4).alias("b")).collect()
    b2 = emb.select("vec_id", lsh_bucket("embedding", dim, 4).alias("b")).collect()
    assert {r.vec_id: r.b for r in b1} == {r.vec_id: r.b for r in b2}
    assert all(len(r.b) == 4 and set(r.b) <= {"0", "1"} for r in b1)


def test_lsh_query_bucket_contains_query(spark, tables):
    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    got = ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()
    # the anchor itself always lands in its own bucket at score 1.0
    assert got[0].vec_id == 0 and got[0].score == pytest.approx(1.0)


def test_ivf_centroids_shape(tables):
    cents = ivf_centroids(tables["embeddings"]).collect()
    assert len(cents) == 10
    assert all(len(r.centroid) == 64 for r in cents)


def test_ivf_centroids_dim_path_ragged_edges(spark):
    """The ``dim=`` one-pass path against the posexplode path on ragged
    input: a NULL element is skipped by both averages, so the centroids
    are equal; a cell whose vectors are all shorter than ``dim`` gets a
    trailing NULL from ``dim=`` where the posexplode path returns a
    shorter array (the documented difference)."""
    emb = spark.createDataFrame(
        [
            (0, "a", [1.0, None, 3.0]),
            (1, "a", [3.0, 2.0, 5.0]),
            (2, "b", [1.0, 2.0]),
            (3, "b", [3.0, 4.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    by_dim = {r.cell: r.centroid for r in ivf_centroids(emb, dim=3).collect()}
    exploded = {r.cell: r.centroid for r in ivf_centroids(emb).collect()}
    assert by_dim["a"] == exploded["a"] == [2.0, 2.0, 4.0]
    assert by_dim["b"] == [2.0, 3.0, None]
    assert exploded["b"] == [2.0, 3.0]


def test_ivf_assign_covers_all(tables):
    emb = tables["embeddings"]
    cents = ivf_centroids(emb)
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("cell").distinct().count() <= 10


def test_ann_recall_vs_exact(spark, tables):
    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    exact = {r.vec_id for r in similarity_topk(emb, qvec, 10).collect()}
    ivf = {r.vec_id for r in ann_ivf_topk(emb, qvec, 10, nprobe=3).collect()}
    lsh = {r.vec_id for r in ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()}
    ivf_recall = len(exact & ivf) / 10
    lsh_recall = len(exact & lsh) / 10
    print(f"recall@10: ivf(nprobe=3)={ivf_recall} lsh(4 planes)={lsh_recall}")
    # random 64-dim corpus: approximate methods must at least find the anchor
    assert 0 in ivf and 0 in lsh
    assert ivf_recall >= 0.2


def test_quantized_topk_preserves_ranking(spark, tables):
    """int8 quantization keeps top-10 ranking close to full precision."""
    from memfuse_spark.functions.vector import dequantize_int8, normalize, quantize_int8

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    exact = [r.vec_id for r in similarity_topk(emb, qvec, 10).collect()]
    quant = emb.select(
        "vec_id", dequantize_int8(quantize_int8(normalize("embedding"))).alias("embedding")
    )
    approx = [r.vec_id for r in similarity_topk(quant, qvec, 10).collect()]
    overlap = len(set(exact) & set(approx)) / 10
    assert approx[0] == 0  # self still first
    assert overlap >= 0.8, f"quantization overlap {overlap}"


def test_quantize_roundtrip_error_bounded(spark):
    from memfuse_spark.functions.vector import dequantize_int8, quantize_int8
    import numpy as np

    df = spark.createDataFrame([([0.5, -0.25, 1.0, -1.0, 0.0],)], "v array<double>")
    out = df.select(dequantize_int8(quantize_int8("v")).alias("r")).first().r
    assert np.allclose(out, [0.5, -0.25, 1.0, -1.0, 0.0], atol=1 / 127)


# ---------------------------------------------------------------------------
# deterministic PQ tier (label codebooks)
# ---------------------------------------------------------------------------

def test_pq_from_labels_recall_vs_exact(spark, tables):
    from memfuse_spark.operators.ann import pq_topk_from_labels

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    exact = [r.vec_id for r in similarity_topk(emb, qvec, 10).collect()]
    approx = [r.vec_id for r in pq_topk_from_labels(emb, qvec, 10).collect()]
    # 10 label-derived codewords over the 50-vector sf0.001 fixture is a
    # very coarse quantizer: require the anchor's own cell to win and
    # some exact-set overlap (sf0.01 measures 3/10 for m ∈ {4,8,16,32}).
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 1


def test_pq_encode_codes_in_range(spark, tables):
    from memfuse_spark.operators.ann import (
        pq_codebooks_from_labels,
        pq_encode_from_codebooks,
    )

    emb = tables["embeddings"]
    cb = pq_codebooks_from_labels(emb, m=4, dim=64)
    cells = {r.cell for r in cb.select("cell").distinct().collect()}
    codes = pq_encode_from_codebooks(emb, cb, m=4, dim=64)
    n_vecs = emb.count()
    assert codes.count() == n_vecs * 4  # one code per (vector, subspace)
    bad = codes.filter(~codes.code.isin(*cells)).count()
    assert bad == 0


def test_multiprobe_recall_at_least_single_probe(spark, tables):
    from memfuse_spark.operators.ann import ann_lsh_topk, ann_lsh_topk_multiprobe
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    exact = {r.vec_id for r in similarity_topk(emb, qvec, 10).collect()}
    single = {r.vec_id for r in ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()}
    multi = {r.vec_id for r in ann_lsh_topk_multiprobe(emb, qvec, 10, num_planes=4).collect()}
    # multi-probe scans a superset of the single bucket, so its top-k
    # can only improve (or tie) recall; it must still contain the anchor
    assert 0 in multi
    assert len(exact & multi) >= len(exact & single)


def test_bq_topk_recall_vs_exact(spark, tables):
    """Binary quantization: the anchor retrieves itself at rank 1
    (Hamming 0 → rescored cosine 1.0), and the 4k-candidate rescore
    recovers most of the exact top-k on the hash-embedding corpus."""
    from memfuse_spark.operators.ann import bq_topk
    from memfuse_spark.operators.similarity import similarity_topk
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    got = bq_topk(emb, qvec, 10, candidates=60).collect()
    assert got[0].vec_id == 0 and got[0].score == 1.0
    exact = {r.vec_id for r in similarity_topk(emb, qvec, 10).collect()}
    recall = len(exact & {r.vec_id for r in got}) / len(exact)
    assert recall >= 0.5, recall


def test_bq_hamming_scan_stays_codegen(spark, tables):
    """The Hamming ranking must be pure JVM codegen ending in
    TakeOrderedAndProject — no Python, no shuffle of the corpus."""
    from memfuse_spark.operators.ann import bq_topk
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    df = bq_topk(emb, qvec, 10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_bq_store_scan_never_reads_vectors(spark, tables, tmp_path):
    """The stored-code Hamming scan must read ONLY the packed words —
    the float embedding column never appears in the store scan's
    ReadSchema (the 64x I/O saving is a plan property, not a hope)."""
    from memfuse_spark.operators.ann import bq_topk_from_store, build_bq_store
    from memfuse_spark.plans.pipeline import anchor_vector

    emb = tables["embeddings"]
    build_bq_store(spark, emb, "bq_test_store", path=str(tmp_path))
    qvec = anchor_vector(spark, emb, 0)
    df = bq_topk_from_store(spark, "bq_test_store", emb, qvec, 10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    store_scans = [
        l for l in plan.splitlines()
        if "ReadSchema" in l and "bw0" in l
    ]
    assert store_scans, "packed store scan missing from plan"
    assert all("embedding" not in l for l in store_scans)
    # results identical to the inline tier
    from memfuse_spark.operators.ann import bq_topk

    assert df.collect() == bq_topk(emb, qvec, 10).collect()


def test_mutual_knn_matches_bruteforce_reciprocal(spark):
    """With nprobe = n_cells the probe is exhaustive, so mutual_knn
    must equal the brute-force reciprocal-kNN graph."""
    import itertools
    import math

    from memfuse_spark.operators.ann import mutual_knn_pairs

    vecs = {
        0: [1.0, 0.0, 0.0], 1: [0.9, 0.1, 0.0], 2: [0.0, 1.0, 0.0],
        3: [0.1, 0.9, 0.0], 4: [0.0, 0.0, 1.0], 5: [0.5, 0.5, 0.0],
        6: [0.6, 0.4, 0.1],
    }
    labels = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 0, 6: 1}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], labels[i]) for i, v in vecs.items()],
        "vec_id bigint, embedding array<double>, label int",
    )
    k = 2

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    knn = {
        i: [
            j for j, _ in sorted(
                ((j, cos(vecs[i], vecs[j])) for j in vecs if j != i),
                key=lambda t: (-t[1], t[0]),
            )[:k]
        ]
        for i in vecs
    }
    want = sorted(
        (a, b) for a, b in itertools.combinations(sorted(vecs), 2)
        if b in knn[a] and a in knn[b]
    )
    got = [
        (r.vec_a, r.vec_b)
        for r in mutual_knn_pairs(df, k=k, nprobe=3).collect()
    ]
    assert got == want
    assert len(want) > 0


def test_mutual_knn_pairs_are_mutual(spark, tables):
    """Every emitted pair must appear in BOTH endpoints' probed top-k
    (mutuality is the operator's contract — asymmetric hub matches are
    exactly what it exists to drop)."""
    from memfuse_spark.operators.ann import mutual_knn_pairs

    emb = tables["embeddings"]
    pairs = mutual_knn_pairs(emb, k=5, nprobe=2).collect()
    assert len(pairs) > 0
    # spot-check symmetry of the score column against a recompute of
    # the reversed direction
    from memfuse_spark.functions.vector import cosine_similarity

    sample = pairs[: 5]
    by_id = {
        r.vec_id: r.embedding
        for r in emb.filter(
            F.col("vec_id").isin(
                [p.vec_a for p in sample] + [p.vec_b for p in sample]
            )
        ).collect()
    }
    import math

    for p in sample:
        a, b = by_id[p.vec_a], by_id[p.vec_b]
        d = sum(x * y for x, y in zip(a, b))
        c = d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        assert abs(round(c, 6) - p.score) <= 1e-6


def test_label_outliers_flags_injected_noise(spark):
    """A vector pointing away from its label's cluster must surface as
    that label's #1 outlier."""
    from memfuse_spark.operators.ann import label_outliers

    rows = [(i, [1.0, 0.05 * i, 0.0], 0) for i in range(6)]
    rows.append((99, [-1.0, 0.0, 0.0], 0))          # injected mislabel
    rows += [(10 + i, [0.0, 1.0, 0.02 * i], 1) for i in range(4)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    out = label_outliers(df, k=2).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.label, []).append(r.vec_id)
    assert by_label[0][0] == 99
    assert len(by_label[0]) == 2 and len(by_label[1]) == 2
    scores = [r.score for r in out if r.label == 0]
    assert scores == sorted(scores)


def test_bq_pack_words_rejects_non_multiple_dim():
    """dim not divisible by word_bits must fail loudly — a partial
    trailing word would silently drop dimensions from the packed code
    and skew the Hamming ranking."""
    import pytest

    from memfuse_spark.operators.ann import bq_pack_words

    with pytest.raises(ValueError, match="not a multiple"):
        bq_pack_words("embedding", dim=70, word_bits=16)


def test_mutual_knn_over_kmeans_cells_matches_bruteforce(spark):
    """ROADMAP r5: mutual-kNN over LEARNED KMeans cells
    (ivf_kmeans_centroids) instead of label cells. With nprobe =
    n_cells the probe is exhaustive, so the learned partitioning must
    not change the reciprocal graph — same brute-force equivalence
    bar as the label-cell test."""
    import itertools
    import math

    from memfuse_spark.operators.ann import (
        ivf_kmeans_centroids,
        mutual_knn_pairs,
    )

    vecs = {
        0: [1.0, 0.0, 0.0], 1: [0.9, 0.1, 0.0], 2: [0.0, 1.0, 0.0],
        3: [0.1, 0.9, 0.0], 4: [0.0, 0.0, 1.0], 5: [0.5, 0.5, 0.0],
        6: [0.6, 0.4, 0.1], 7: [0.0, 0.1, 0.9],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id bigint, embedding array<double>",
    )
    n_cells = 3
    _, assigned = ivf_kmeans_centroids(df, n_cells=n_cells)
    k = 2

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(y * y for y in b))
            ),
            6,
        )

    knn = {
        i: [
            j
            for j, _ in sorted(
                ((j, cos(vecs[i], vecs[j])) for j in vecs if j != i),
                key=lambda t: (-t[1], t[0]),
            )[:k]
        ]
        for i in vecs
    }
    want = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if b in knn[a] and a in knn[b]
    )
    got = [
        (r.vec_a, r.vec_b)
        for r in mutual_knn_pairs(
            assigned, k=k, nprobe=n_cells, cell_col="cell"
        ).collect()
    ]
    assert got == want and len(want) > 0


def test_scaled_num_planes_rule():
    """The corpus-scaled cell rule: planes grow log2 with corpus size
    so expected cell size stays ~target; floors at 1 plane (2 cells)
    for tiny corpora."""
    from memfuse_spark.operators.ann import scaled_num_planes

    assert scaled_num_planes(10, 500) == 1
    assert scaled_num_planes(1000, 500) == 1
    assert scaled_num_planes(5000, 500) == 4      # ceil(log2(10))
    assert scaled_num_planes(60_000, 500) == 7    # ceil(log2(120))
    assert scaled_num_planes(600_000, 500) == 11
    # 10x corpus -> ~log2(10) = +3-4 planes -> cell size ~flat
    assert scaled_num_planes(6_000_000, 500) - scaled_num_planes(600_000, 500) <= 4


def test_mutual_knn_default_uses_corpus_scaled_cells(spark):
    """The DEFAULT cell mode (cell_col=None) derives sign-LSH cells
    from the corpus size and never touches a label column — a corpus
    WITHOUT labels must work out of the box."""
    import numpy as np

    from memfuse_spark.operators.ann import mutual_knn_pairs

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = mutual_knn_pairs(df, k=3, nprobe=2).collect()
    # mutuality contract holds under the scaled-cell default
    seen = {(r.vec_a, r.vec_b) for r in pairs}
    assert all(a < b for a, b in seen)


def test_mutual_knn_empty_corpus_returns_empty(spark):
    """ADVICE r7: default-cell mode on an EMPTY corpus used to raise
    TypeError (int(None) on the F.first(size) dimension probe); it must
    short-circuit to an empty (vec_a, vec_b, score) frame. The row
    count also uses count(1) now — count(id_col) would skip NULL ids
    while the oracle counts rows."""
    from memfuse_spark.operators.ann import mutual_knn_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = mutual_knn_pairs(empty, k=3)
    assert out.columns == ["vec_a", "vec_b", "score"]
    assert out.count() == 0


def test_mutual_knn_null_first_embedding_does_not_empty_result(spark):
    """A NULL embedding that lands FIRST must not masquerade as an
    empty corpus: dim now comes from the first row that HAS a vector
    (F.first ignorenulls) — pre-fix, F.first(size) returned NULL and
    the short-circuit silently dropped every pair. All-NULL vectors
    still yield the (correct) empty frame."""
    from memfuse_spark.operators.ann import mutual_knn_pairs

    rows = [(0, None), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)  # deterministic row order: the NULL row is first
    pairs = {
        (r.vec_a, r.vec_b) for r in mutual_knn_pairs(df, k=1, nprobe=4).collect()
    }
    assert (1, 2) in pairs  # the near-identical pair survives

    all_null = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    assert mutual_knn_pairs(all_null, k=1).count() == 0


def test_mutual_knn_empty_path_preserves_id_type(spark):
    """The short-circuit frames derive vec_a/vec_b from the corpus id
    column's type instead of hardcoding long."""
    from memfuse_spark.operators.ann import mutual_knn_pairs

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = mutual_knn_pairs(empty, k=3)
    assert dict(out.dtypes)["vec_a"] == "string"


def test_split_hot_cells_rebalances_skewed_cells(spark):
    """Round-8 scale rule: the corpus-scaled plane count keeps the
    AVERAGE cell at target, but correlated data skews sign-LSH cells
    (100x probe: max cell 19x target). split_hot_cells extends a hot
    cell's key with extra deterministic planes: (a) a hot cell of
    DIVERSE vectors splits to ~target-sized subcells, (b) a hot cell of
    IDENTICAL vectors stays together (the residual quadratic mass is
    true-duplicate work), (c) the rule is deterministic, (d) cells at
    or under target are untouched."""
    import numpy as np
    from pyspark.sql import functions as F

    from memfuse_spark.operators.ann import split_hot_cells

    rng = np.random.default_rng(11)
    diverse = [
        (i, [float(x) for x in rng.normal(size=8)], "hot")
        for i in range(1200)
    ]
    same = [
        (10_000 + i, [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5], "dup")
        for i in range(300)
    ]
    cold = [
        (20_000 + i, [float(x) for x in rng.normal(size=8)], "cld")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        diverse + same + cold, "vec_id long, v array<double>, cell string"
    )
    out = split_hot_cells(df, "v", 8, base_planes=1, target_cell_size=100)
    sizes = {
        (r.pref, r.cell): r.n
        for r in out.select(
            F.substring("cell", 1, 3).alias("pref"), "cell"
        ).groupBy("pref", "cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot_cells = {c: n for (p, c), n in sizes.items() if p == "hot"}
    assert len(hot_cells) > 4               # the diverse hot cell split
    assert max(hot_cells.values()) < 600    # no subcell near the original 1200
    dup_cells = {c: n for (p, c), n in sizes.items() if p == "dup"}
    assert len(dup_cells) == 1              # identical vectors cannot split
    assert set(dup_cells.values()) == {300}
    cold_cells = {c: n for (p, c), n in sizes.items() if p == "cld"}
    assert set(cold_cells) == {"cld"}       # <= target: key untouched
    # deterministic: a second application of the same rule is identical
    again = split_hot_cells(df, "v", 8, base_planes=1, target_cell_size=100)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_mutual_knn_cell_col_tier_drops_null_embeddings(spark):
    """ADVICE r8: the NULL-vector filter applies to the explicit
    cell_col= (label/KMeans) tier too — intentionally. A NULL embedding
    is nobody's neighbor, and the per-cell kernel's np.stack would die
    on a ragged batch. The result must equal the same corpus without
    the NULL rows, not crash and not change surviving pairs."""
    from memfuse_spark.operators.ann import mutual_knn_pairs

    clean = [
        (1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "a"),
        (3, [0.0, 1.0], "b"), (4, [0.1, 0.9], "b"),
    ]
    with_nulls = clean + [(5, None, "a"), (6, None, "b")]
    schema = "vec_id long, embedding array<double>, cell string"
    got = {
        (r.vec_a, r.vec_b, r.score)
        for r in mutual_knn_pairs(
            spark.createDataFrame(with_nulls, schema),
            k=1, nprobe=2, cell_col="cell",
        ).collect()
    }
    want = {
        (r.vec_a, r.vec_b, r.score)
        for r in mutual_knn_pairs(
            spark.createDataFrame(clean, schema),
            k=1, nprobe=2, cell_col="cell",
        ).collect()
    }
    assert got == want and len(want) > 0
