"""Structured Streaming buffer semantics (B2/B4/B5) driven end-to-end:
file-source streams into the epoch stores, read-your-writes and
speculative prefetch."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from memfuse_spark.streaming import buffer as sb


def test_ingest_stream_builds_hierarchy(spark, tmp_path):
    src = str(tmp_path / "events")
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1 + (i % 2), "click", f"payload {i}")
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
    ).coalesce(1).write.parquet(src)

    out = str(tmp_path / "out")
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
    ).parquet(src)
    q = sb.ingest_stream(stream, out)
    q.awaitTermination(120)

    m0 = spark.read.parquet(os.path.join(out, "m0"))
    m1 = spark.read.parquet(os.path.join(out, "m1"))
    m2 = spark.read.parquet(os.path.join(out, "m2"))
    assert m0.count() == 20
    # 10 events per user → batches of 5 → 2 chunks/user
    assert m1.count() == 4
    assert m2.count() > 0
    # lineage arrays cover every event
    covered = m1.select(F.explode("m0_raw_ids")).distinct().count()
    assert covered == 20


def test_read_your_writes_buffer_wins(spark):
    store = spark.createDataFrame(
        [("m1", "old content"), ("m2", "stored")], "message_id string, content string"
    )
    buf = spark.createDataFrame(
        [("m1", "fresh content"), ("m3", "unflushed")], "message_id string, content string"
    )
    got = {r.message_id: r.content for r in sb.read_your_writes(store, buf).collect()}
    assert got == {"m1": "fresh content", "m2": "stored", "m3": "unflushed"}


EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
)


def test_speculative_prefetch_ranks_by_mean_of_recent(spark):
    """B5: the prefetch set is the corpus top-k by cosine to the mean of
    the recent items, the recent items themselves excluded."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.8, 0.2, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.9, 0.1]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = [r.vec_id for r in sb.speculative_prefetch(emb, [0, 1], k=1).collect()]
    assert got == [2]  # the orthogonal cluster (3, 4) is not prefetched


def _events(spark, first_id: int, n: int):
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        (
            first_id + i,
            t0 + datetime.timedelta(seconds=first_id + i),
            1 + (i % 2),
            "click",
            f"payload {first_id + i}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def _docs(spark, first_id: int, n: int):
    return spark.createDataFrame(
        [(first_id + i, f"memory {i % 3} scan doc {first_id + i}") for i in range(n)],
        "doc_id long, text string",
    )


def _vectors(spark, first_id: int, n: int):
    return spark.createDataFrame(
        [
            (first_id + i, [float((i * j) % 5) - 2.0 for j in range(1, 5)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )


# writer name -> (write(batch, epoch_id, out_base), batch(spark, first_id, n),
# the store directories it writes under out_base)
EPOCH_WRITERS = {
    "write_hierarchy_epoch": (
        sb.write_hierarchy_epoch,
        _events,
        ("m0", "m1", "m2"),
    ),
    "write_index_epoch": (
        lambda b, e, out: sb.write_index_epoch(b, out, e),
        _docs,
        ("postings", "dfparts", "statsparts"),
    ),
    "write_vector_epoch": (
        lambda b, e, out: sb.write_vector_epoch(b, out, e, dim=4, num_planes=3),
        _vectors,
        ("vectors",),
    ),
}


def _store_rows(spark, out, names, epoch_id=None):
    rows = {}
    for name in names:
        df = spark.read.parquet(os.path.join(out, name))
        if epoch_id is not None:
            df = df.filter(F.col("epoch_id") == epoch_id)
        rows[name] = sorted(map(repr, df.collect()))
    return rows


@pytest.mark.parametrize("writer", sorted(EPOCH_WRITERS))
def test_epoch_replay_is_idempotent(spark, tmp_path, writer):
    """Exactly-once: replaying an epoch (checkpoint recovery re-runs the
    last foreachBatch) must REPLACE its partitions, not double-append,
    in every store the epoch writer fans out to."""
    write, make_batch, names = EPOCH_WRITERS[writer]
    batch = make_batch(spark, 0, 10)
    out = str(tmp_path / "epoch_out")
    write(batch, 0, out)
    first = _store_rows(spark, out, names)
    assert all(first.values())
    # simulate a retried epoch 0 (same data, same epoch id)
    write(batch, 0, out)
    # then a genuine new epoch with different rows
    write(make_batch(spark, 100, 5), 1, out)

    assert _store_rows(spark, out, names, epoch_id=0) == first  # no dupes
    second = _store_rows(spark, out, names, epoch_id=1)
    assert all(second.values())
    total = _store_rows(spark, out, names)
    for name in names:
        assert len(total[name]) == len(first[name]) + len(second[name])


def _compact_index(spark, out):
    from memfuse_spark.operators.keyword import compact_stream_index

    compact_stream_index(spark, out)


def _compact_vectors(spark, out):
    from memfuse_spark.operators.ann import compact_bucketed_corpus

    compact_bucketed_corpus(spark, os.path.join(out, "vectors"))


@pytest.mark.parametrize(
    "writer, compact",
    [("write_index_epoch", _compact_index), ("write_vector_epoch", _compact_vectors)],
)
def test_replay_of_a_compacted_epoch_is_a_noop(spark, tmp_path, writer, compact):
    """Replaying an epoch that compaction already folded into the base
    leaves every store's rows unchanged (it would otherwise count that
    epoch twice); a new epoch id still appends."""
    write, make_batch, names = EPOCH_WRITERS[writer]
    out = str(tmp_path / "compacted")
    epoch1 = make_batch(spark, 100, 5)
    write(make_batch(spark, 0, 10), 0, out)
    write(epoch1, 1, out)
    compact(spark, out)

    def counts(epoch_id=None):
        stores = {n: sb.read_epochs(spark, os.path.join(out, n)) for n in names}
        if epoch_id is not None:
            stores = {n: df.filter(F.col("epoch_id") == epoch_id) for n, df in stores.items()}
        return {n: df.count() for n, df in stores.items()}

    folded = counts()
    assert all(folded.values())
    write(epoch1, 1, out)
    assert counts() == folded
    write(make_batch(spark, 200, 4), 2, out)
    appended = counts(epoch_id=2)
    assert all(appended.values())
    assert counts() == {n: folded[n] + appended[n] for n in names}


def test_empty_epoch_leaves_hierarchy_store_unchanged(spark, tmp_path):
    """An empty micro-batch appended as a new epoch of an existing
    hierarchy store writes no rows: m0/m1/m2 read back unchanged."""
    batch = _events(spark, 0, 10)
    out = str(tmp_path / "epoch_out")
    sb.write_hierarchy_epoch(batch, 0, out)
    before = _store_rows(spark, out, ("m0", "m1", "m2"))
    sb.write_hierarchy_epoch(batch.filter(F.lit(False)), 1, out)
    assert _store_rows(spark, out, ("m0", "m1", "m2")) == before
    assert [len(before[n]) for n in ("m0", "m1", "m2")] == [10, 2, 2]


def test_write_epoch_rejects_schema_drift(spark, tmp_path):
    """An epoch whose column names or types differ from the store's
    recorded schema is refused before anything is written; a difference
    in nullability alone is not drift."""
    path = str(tmp_path / "drift")
    sb.write_epoch(spark.createDataFrame([(1, "a")], "doc_id long, text string"), path, 0)
    sb.write_epoch(spark.range(2).selectExpr("id AS doc_id", "'b' AS text"), path, 1)
    before = sorted(map(repr, sb.read_epochs(spark, path).collect()))
    assert len(before) == 3
    with pytest.raises(ValueError, match="doc_id"):
        sb.write_epoch(
            spark.createDataFrame([("x", "c")], "doc_id string, text string"), path, 2
        )
    assert sorted(map(repr, sb.read_epochs(spark, path).collect())) == before


def _sequential_epoch(writer, batch, epoch_id, out):
    """``writer``'s epoch derived and written store by store, each by
    its own :func:`write_epoch` call, one after another."""
    from memfuse_spark.operators import hierarchy as h
    from memfuse_spark.operators.keyword import (
        build_postings,
        corpus_stats,
        document_frequency,
    )

    if writer == "write_hierarchy_epoch":
        m0 = h.m0_from_events(batch)
        m1 = h.m1_from_m0(m0)
        stores = {"m0": m0, "m1": m1, "m2": h.m2_facts_from_m1(m1)}
    else:
        postings = build_postings(batch, "doc_id", "text")
        stores = {
            "postings": postings,
            "dfparts": document_frequency(postings),
            "statsparts": corpus_stats(postings),
        }
    for name, df in stores.items():
        sb.write_epoch(df, os.path.join(out, name), epoch_id)


@pytest.mark.parametrize("writer", ["write_hierarchy_epoch", "write_index_epoch"])
def test_side_by_side_writer_equals_sequential_stores(spark, tmp_path, writer):
    """The writer's stores, written side by side, equal row for row
    (epoch ids included) and in recorded schema those of the same
    epochs written store by store with sequential write_epoch calls."""
    write, make_batch, names = EPOCH_WRITERS[writer]
    new, seq = str(tmp_path / "side_by_side"), str(tmp_path / "sequential")
    for epoch, (first, n) in enumerate(((0, 23), (100, 9))):
        batch = make_batch(spark, first, n)
        write(batch, epoch, new)
        _sequential_epoch(writer, batch, epoch, seq)
    got = _store_rows(spark, new, names)
    assert all(got.values())
    assert got == _store_rows(spark, seq, names)
    for name in names:
        assert sb.read_epochs(spark, os.path.join(new, name)).schema == sb.read_epochs(
            spark, os.path.join(seq, name)
        ).schema


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_hierarchy_epoch_job_budget(spark, tmp_path):
    """A hierarchy epoch runs at most 6 Spark jobs (one exchange and one
    write per store; M2 adds no shuffle of its own), every one of them
    under the caller's job group, the writer threads' jobs included."""
    sc = spark.sparkContext
    out = str(tmp_path / "budget")
    for epoch, first in ((0, 0), (1, 100)):
        group = f"hierarchy-epoch-budget-{epoch}"
        batch = _events(spark, first, 40)
        _in_group(spark, group, lambda: sb.write_hierarchy_epoch(batch, epoch, out))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 3 <= len(jobs) <= 6, jobs
    assert [len(v) for v in _store_rows(spark, out, ("m0", "m1", "m2")).values()] == [80, 16, 16]


def test_store_write_error_raises_after_every_thread_joined(spark, tmp_path, monkeypatch):
    """When one store's write fails (m1, on a writer thread), the
    writer raises that error only after the other stores' writes have
    finished, and no thread or job of the epoch is left running."""
    import threading
    import time

    from pyspark import InheritableThread
    from pyspark.sql.readwriter import DataFrameWriter

    parquet = DataFrameWriter.parquet

    def failing_m1(self, path, *args, **kwargs):
        if os.path.basename(path) == "m1":
            raise RuntimeError("m1 store write failed")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_m1)
    sc = spark.sparkContext
    out = str(tmp_path / "failing")
    group = "hierarchy-epoch-failing"
    with pytest.raises(RuntimeError, match="m1 store write failed"):
        _in_group(spark, group, lambda: sb.write_hierarchy_epoch(_events(spark, 0, 20), 0, out))
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    for name in ("m0", "m2"):  # both finished before the error surfaced
        assert os.path.exists(os.path.join(out, name, sb.SCHEMA_FILE)), name
    assert not os.path.exists(os.path.join(out, "m1"))
    time.sleep(0.5)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


@pytest.mark.parametrize(
    "writer, store",
    [
        (w, name)
        for w in ("write_hierarchy_epoch", "write_index_epoch")
        for name in EPOCH_WRITERS[w][2]
    ],
)
def test_schema_drift_in_one_store_writes_no_store(spark, tmp_path, writer, store):
    """A schema drift in any single store of a multi-store epoch raises
    ValueError before any store of that epoch is written."""
    import json

    write, make_batch, names = EPOCH_WRITERS[writer]
    out = str(tmp_path / "drift")
    write(make_batch(spark, 0, 10), 0, out)
    path = os.path.join(out, store, sb.SCHEMA_FILE)
    with open(path) as fh:
        recorded = json.load(fh)
    recorded["fields"][0]["name"] = "drifted_" + recorded["fields"][0]["name"]
    with open(path, "w") as fh:
        json.dump(recorded, fh)

    def listing():
        return {n: sorted(os.listdir(os.path.join(out, n))) for n in names}

    before = listing()
    with pytest.raises(ValueError, match="drifted_"):
        write(make_batch(spark, 100, 5), 1, out)
    assert listing() == before


def test_write_epoch_leaves_session_write_mode_alone(spark, tmp_path):
    """write_epoch's replay-safe dynamic overwrite is a write option: the
    session's partitionOverwriteMode is unchanged afterwards, and a
    plain overwrite of a partitioned table still replaces every
    partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    path = str(tmp_path / "store")
    for epoch in (0, 1, 1):
        sb.write_epoch(_docs(spark, 10 * epoch, 5), path, epoch)
    assert sb.read_epochs(spark, path).count() == 10
    assert spark.conf.get(key) == before

    table = str(tmp_path / "t")
    rows = "p int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], rows).write.partitionBy("p").parquet(table)
    spark.createDataFrame([(3, "c")], rows).write.mode("overwrite").partitionBy(
        "p"
    ).parquet(table)
    assert [r.p for r in spark.read.parquet(table).collect()] == [3]


def test_read_epochs_schema_is_the_inferred_schema(spark, tmp_path):
    """Every epoch store reads back through its recorded schema with
    exactly the schema parquet inference gives (names, types, order,
    nullability): hierarchy, index and vector stores, and the vector
    store after compaction. A store without a recorded schema raises
    instead of being inferred."""
    from memfuse_spark.operators.ann import compact_bucketed_corpus

    out = str(tmp_path / "stores")
    for epoch, first in ((0, 0), (1, 100)):
        sb.write_hierarchy_epoch(_events(spark, first, 10), epoch, out)
        sb.write_index_epoch(_docs(spark, first, 10), out, epoch)
        sb.write_vector_epoch(_vectors(spark, first, 10), out, epoch, dim=4, num_planes=3)

    def assert_recorded_is_inferred(path):
        assert sb.read_epochs(spark, path).schema == spark.read.parquet(path).schema

    for name in ("m0", "m1", "m2", "postings", "dfparts", "statsparts", "vectors"):
        assert_recorded_is_inferred(os.path.join(out, name))
    compact_bucketed_corpus(spark, os.path.join(out, "vectors"))
    assert_recorded_is_inferred(os.path.join(out, "vectors"))
    # a store whose first epoch wrote no rows has no partition directory
    # to infer from; the next epoch must still be accepted
    first_empty = str(tmp_path / "first_empty")
    for epoch, n in ((0, 0), (1, 10)):
        sb.write_vector_epoch(_vectors(spark, 0, n), first_empty, epoch, dim=4, num_planes=3)
    assert_recorded_is_inferred(os.path.join(first_empty, "vectors"))

    os.remove(os.path.join(out, "m0", sb.SCHEMA_FILE))
    with pytest.raises(FileNotFoundError):
        sb.read_epochs(spark, os.path.join(out, "m0"))


def test_stream_reads_job_budget(spark, tmp_path):
    """Read-your-writes reads of a 3-epoch index/vector store (epoch 1
    replayed, epoch 2 empty) start no Spark job while the query is built,
    since no schema is inferred. Collecting takes at most 4 jobs for the
    keyword read and 1 for the ANN read, and the rows equal whole-corpus
    BM25 (DuckDB) and LSH top-k over the epochs' union. A query with no
    vocabulary term returns no rows."""
    import duckdb

    from memfuse_spark.operators.ann import ann_lsh_topk, bucketed_topk
    from memfuse_spark.operators.keyword import (
        bm25_topk_from_stream_index,
        bm25_topk_sql,
    )

    out = str(tmp_path / "ryw")
    docs = {0: _docs(spark, 0, 12), 1: _docs(spark, 100, 8), 2: _docs(spark, 200, 0)}
    vecs = {0: _vectors(spark, 0, 12), 1: _vectors(spark, 100, 8), 2: _vectors(spark, 200, 0)}
    for epoch in (0, 1, 2, 1):
        sb.write_index_epoch(docs[epoch], out, epoch)
        sb.write_vector_epoch(vecs[epoch], out, epoch, dim=4, num_planes=3)
    sc = spark.sparkContext

    def run_in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    con = duckdb.connect()
    con.register("documents", docs[0].unionByName(docs[1]).toPandas())
    try:
        for i, query in enumerate(("memory 1 scan", "zzz unknown")):
            kdf, built = run_in_group(
                f"stream-kw-build-{i}",
                lambda: bm25_topk_from_stream_index(spark, out, query, 10),
            )
            rows, collected = run_in_group(f"stream-kw-collect-{i}", kdf.collect)
            assert built == 0 and collected <= 4
            want = con.execute(bm25_topk_sql(query, 10)).fetchall()
            assert [(r.doc_id, r.score) for r in rows] == [tuple(w) for w in want]
            assert bool(rows) == (i == 0)  # the second has no vocabulary term
    finally:
        con.close()

    qvec = [-1.0, 0.0, 1.0, 2.0]
    adf, built = run_in_group(
        "stream-ann-build",
        lambda: bucketed_topk(spark, os.path.join(out, "vectors"), qvec, 5, num_planes=3),
    )
    rows, collected = run_in_group("stream-ann-collect", adf.collect)
    assert built == 0 and collected == 1
    want = ann_lsh_topk(vecs[0].unionByName(vecs[1]), qvec, 5, num_planes=3).collect()
    assert [(r.vec_id, r.score) for r in rows] == [(r.vec_id, r.score) for r in want]
    assert rows


def test_complete_workflow_ingest_to_hybrid_query(spark, tmp_path):
    """E2E twin of the reference's tests/e2e/test_complete_workflow.py:
    stream events through the ingest pipeline (m0→m1→m2 written
    exactly-once), then QUERY the ingested hierarchy — vector top-k over
    the m1 hash embeddings ∪ BM25 over the m1 content, RRF-fused — and
    serve an un-flushed buffer edit via read-your-writes. The write
    path and the read path meet on the same store, like a live service."""
    src = str(tmp_path / "wf_events")
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        (
            i,
            t0 + datetime.timedelta(seconds=i),
            1 + (i % 2),
            "click",
            f"payload about {'spark tables' if i % 4 == 0 else 'vector scans'} {i}",
        )
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
    ).coalesce(1).write.parquet(src)

    out = str(tmp_path / "wf_out")
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, props string"
    ).parquet(src)
    sb.ingest_stream(stream, out).awaitTermination(120)

    from memfuse_spark.operators.fusion import rrf_fusion, tag_store, union_results
    from memfuse_spark.operators.keyword import bm25_topk
    from memfuse_spark.operators.similarity import similarity_topk

    m1 = spark.read.parquet(os.path.join(out, "m1"))
    # query = one stored chunk's embedding (self-retrieval sanity)
    anchor = m1.orderBy("chunk_id").select("chunk_id", "embedding").first()
    vec = tag_store(
        similarity_topk(
            m1.select(F.col("chunk_id").alias("doc_id"), "embedding"),
            list(anchor.embedding),
            3,
            id_col="doc_id",
        ),
        "vector",
    )
    kw = tag_store(
        bm25_topk(
            m1.select(F.col("chunk_id").alias("doc_id"), F.col("content").alias("text")),
            "spark tables",
            3,
        ),
        "keyword",
    )
    fused = rrf_fusion(union_results(vec, kw), weights={"vector": 0.5, "keyword": 0.2})
    top = fused.orderBy(F.desc("score"), F.asc("doc_id")).collect()
    assert top, "fusion over the ingested store returned nothing"
    # the anchor chunk must retrieve itself through the vector branch
    assert anchor.chunk_id in {r.doc_id for r in top}

    # read-your-writes over the SAME store: an un-flushed buffer edit of
    # one chunk wins over its stored version
    buf = m1.limit(1).select(
        "chunk_id", F.concat(F.col("content"), F.lit(" [edited]")).alias("content")
    )
    merged = sb.read_your_writes(
        m1.select("chunk_id", "content"), buf, id_col="chunk_id"
    )
    edited = merged.filter(F.col("content").endswith("[edited]")).count()
    assert edited == 1 and merged.count() == m1.count()


def test_index_ingest_stream_matches_adhoc_bm25(spark, tmp_path):
    """Streaming index maintenance over two micro-batches must serve
    exactly the ad-hoc BM25 ranking of the full corpus, and a replayed
    epoch must replace its partitions (no double counts)."""
    from memfuse_spark.catalog import load_table
    from memfuse_spark.operators.keyword import (
        bm25_topk,
        bm25_topk_from_stream_index,
    )
    from memfuse_spark.streaming.buffer import write_index_epoch
    from tests.conftest import SF_DIR_MED

    docs = load_table(spark, SF_DIR_MED, "documents").select("doc_id", "text")
    src = str(tmp_path / "idx_src")
    docs.filter("doc_id < 250").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 250").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "idx_out")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sb.index_ingest_stream(stream, out)
    q.awaitTermination(240)

    query = "spark table scan query"
    want = [
        (r.doc_id, r.score) for r in bm25_topk(docs, query, 10).collect()
    ]
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_from_stream_index(spark, out, query, 10).collect()
    ]
    assert got == want and len(want) > 0

    # REPLAY epoch 1 (same slice, same epoch id): partials must replace
    # their partitions, leaving results identical
    write_index_epoch(docs.filter("doc_id >= 250"), out, 1)
    replayed = [
        (r.doc_id, r.score)
        for r in bm25_topk_from_stream_index(spark, out, query, 10).collect()
    ]
    assert replayed == want
    # exactly one stats partial per epoch
    stats = spark.read.parquet(os.path.join(out, "statsparts"))
    assert stats.count() == 2


def test_vector_ingest_stream_serves_pruned_lsh_topk(spark, tmp_path):
    """Streaming vector ingest over two micro-batches must serve the
    whole-corpus LSH ranking with bucket partition pruning intact, and
    a replayed epoch must replace its own (epoch, bucket) partitions."""
    from memfuse_spark.catalog import load_table
    from memfuse_spark.operators.ann import ann_lsh_topk, bucketed_topk
    from memfuse_spark.plans.pipeline import anchor_vector
    from memfuse_spark.streaming.buffer import (
        vector_ingest_stream,
        write_vector_epoch,
    )
    from tests.conftest import SF_DIR_MED

    emb = load_table(spark, SF_DIR_MED, "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = anchor_vector(spark, emb, 0)
    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 250").coalesce(1).write.mode("append").parquet(src)
    emb.filter("vec_id >= 250").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "vec_out")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = vector_ingest_stream(stream, out, dim=len(qvec), num_planes=4)
    q.awaitTermination(240)

    store = os.path.join(out, "vectors")
    got = bucketed_topk(spark, store, qvec, 10, num_planes=4)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "bucket" in pf_line
    want = [(r.vec_id, r.score) for r in ann_lsh_topk(emb, qvec, 10, num_planes=4).collect()]
    assert [(r.vec_id, r.score) for r in got.collect()] == want

    # replay epoch 1: same slice, same epoch id — results unchanged,
    # and the store holds each vector exactly once
    write_vector_epoch(
        emb.filter("vec_id >= 250"), out, 1, dim=len(qvec), num_planes=4
    )
    replayed = [(r.vec_id, r.score) for r in bucketed_topk(spark, store, qvec, 10, num_planes=4).collect()]
    assert replayed == want
    total = spark.read.parquet(store).count()
    assert total == emb.count()
