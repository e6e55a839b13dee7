"""Scale-path ANN: partition-pruned bucketed corpus, MLlib k-means cells,
IVF-PQ."""

from __future__ import annotations

from pyspark.sql import functions as F

from memfuse_spark.operators.ann import (
    ann_lsh_topk,
    bucketed_topk,
    ivf_kmeans_centroids,
)
from memfuse_spark.plans.pipeline import anchor_vector
from memfuse_spark.streaming.buffer import write_vector_epoch


def test_bucketed_corpus_partition_pruning(spark, tables, tmp_path):
    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    # two epochs of the vector epoch store: the bucket predicate must
    # prune below the epoch level
    out = str(tmp_path / "bucketed")
    for epoch in (0, 1):
        write_vector_epoch(
            emb.filter(F.col("vec_id") % 2 == epoch),
            out,
            epoch,
            dim=len(qvec),
            num_planes=4,
        )
    path = f"{out}/vectors"

    got = bucketed_topk(spark, path, qvec, 10, num_planes=4)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    # the bucket predicate must be a PartitionFilter (pruned before IO),
    # not a post-scan filter
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in pf_line

    # identical results to the unpartitioned LSH scan
    flat = ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()
    part = got.collect()
    assert [(r.vec_id, r.score) for r in flat] == [(r.vec_id, r.score) for r in part]


def test_ivf_kmeans_assigns_all(spark, tables):
    emb = tables["embeddings"]
    model, assigned = ivf_kmeans_centroids(emb, n_cells=5)
    assert assigned.count() == emb.count()
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(5)) and len(cells) > 1
    assert len(model.clusterCenters()) == 5


def test_ivfpq_probe_restriction_and_full_probe_equivalence(spark):
    """IVF-PQ invariants: (1) every result comes from a probed cell;
    (2) probing ALL cells reproduces the un-probed full-ADC ranking
    (the synthetic label column is not cosine-clustered, so recall
    against the exact scan is not a meaningful bound here — at real
    scale the coarse quantizer comes from ivf_kmeans_centroids)."""
    from memfuse_spark.catalog import load_table
    from memfuse_spark.operators.ann import ivfpq_topk, pq_topk_from_labels, ivf_centroids
    from memfuse_spark.functions.vector import cosine_similarity
    from memfuse_spark.plans.pipeline import anchor_vector
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = anchor_vector(spark, emb, 0)

    res = ivfpq_topk(emb, qvec, 10, nprobe=2).collect()
    qarr = F.array(*[F.lit(float(x)) for x in qvec])
    probed = {
        r["cell"]
        for r in ivf_centroids(emb)
        .withColumn("s", cosine_similarity(F.col("centroid"), qarr))
        .orderBy(F.desc("s"), F.asc("cell"))
        .limit(2)
        .collect()
    }
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r["vec_id"]] in probed for r in res)

    n_cells = emb.select("label").distinct().count()
    all_probe = [tuple(r) for r in ivfpq_topk(emb, qvec, 10, nprobe=n_cells).collect()]
    full_adc = [tuple(r) for r in pq_topk_from_labels(emb, qvec, 10).collect()]
    assert all_probe == full_adc


def test_bucketed_corpus_incremental_append_and_compaction(spark, tables, tmp_path):
    """Epoch appends land inside (epoch, bucket) directories (O(batch)),
    and compaction must merge every epoch to one file per bucket while
    keeping rows, results and partition pruning identical."""
    from memfuse_spark.operators.ann import compact_bucketed_corpus

    emb = tables["embeddings"]
    qvec = anchor_vector(spark, emb, 0)
    out = str(tmp_path / "bucketed_inc")
    write_vector_epoch(
        emb.filter(F.col("vec_id") % 3 != 0), out, 0, dim=len(qvec), num_planes=4
    )
    write_vector_epoch(
        emb.filter(F.col("vec_id") % 3 == 0), out, 1, dim=len(qvec), num_planes=4
    )
    path = f"{out}/vectors"
    rows_before = sorted(
        map(repr, spark.read.parquet(path).drop("epoch_id").collect())
    )
    report = compact_bucketed_corpus(spark, path)
    assert report["files_after"] < report["files_before"]
    # one file per non-empty bucket directory
    import collections
    import re

    per_bucket = collections.Counter(
        re.search(r"bucket=([01]+)", f).group(1)
        for f in spark.read.parquet(path).inputFiles()
    )
    assert all(v == 1 for v in per_bucket.values())
    # every epoch folded into the one base partition, rows unchanged
    compacted = spark.read.parquet(path)
    epochs = compacted.select("epoch_id").distinct().collect()
    assert [r.epoch_id for r in epochs] == [-1]
    assert sorted(map(repr, compacted.drop("epoch_id").collect())) == rows_before

    got = bucketed_topk(spark, path, qvec, 10, num_planes=4)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in pf_line
    flat = ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()
    assert [(r.vec_id, r.score) for r in got.collect()] == [
        (r.vec_id, r.score) for r in flat
    ]
