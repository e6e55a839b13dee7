"""Streaming buffer semantics (SURVEY.md §2.10 B1-B5, §3.3).

The reference hand-rolls a streaming pipeline: RoundBuffer accumulates
message batches per session and flushes on token/size/session triggers
(memfuse `buffer/round_buffer.py:78-163`), HybridBuffer chunks+embeds and
flushes to stores (`buffer/hybrid_buffer.py:27-360`), FlushManager runs
async workers (`buffer/flush_manager.py`), QueryBuffer unions un-flushed
rows with storage for read-your-writes (`buffer/query_buffer.py:331-389`).

Spark-first mapping, one code path per op:
- B1 RoundBuffer → ``chunking.contextual_chunks``: a per-session greedy
  budget grouping (``applyInPandas`` keyed by session), served as the
  ``round_buffer_batch`` query. Keying by session replaces the
  reference's "session changed" trigger, an artifact of its single
  serial buffer.
- B2/B3 Hybrid+FlushManager → ``foreachBatch``: each micro-batch lands
  as one epoch of every store it feeds (:func:`write_epoch`, replay-safe);
  Spark's own micro-batch machinery replaces the worker pool. The three
  streams are :func:`ingest_stream` (M0/M1/M2), :func:`index_ingest_stream`
  and :func:`vector_ingest_stream`. A writer that feeds several stores
  (:func:`write_hierarchy_epoch`, :func:`write_index_epoch`) builds every
  store's plan and checks its schema on the caller's thread, then runs
  the writes side by side on driver threads (:func:`_write_epochs`, the
  reference's parallel layer fan-out, hierarchy/parallel_manager.py:
  93-360), all joined before it returns or raises.
- B4 read-your-writes → union of the un-flushed table with the
  persisted table, buffer rows winning on id collision.
- B5 SpeculativeBuffer → :func:`speculative_prefetch`.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from memfuse_spark.threads import run_beside

SCHEMA_FILE = "_schema.json"  # an epoch store's recorded read schema
BASE_FILE = "_base_epochs.json"  # the epoch ids compaction folded into the base
_BASE_EPOCH = -1  # compacted rows' epoch_id; stream epochs count from 0


def write_epoch(df: DataFrame, path: str, epoch_id: int, *partition_cols: str) -> None:
    """Land one epoch of an append-only store: ``df`` goes under an
    ``epoch_id`` partition (``partition_cols`` nest below it), written
    with dynamic partition overwrite as a write option, so replaying an
    epoch REPLACES its own partitions instead of double-appending. Every
    epoch store in the engine is written through here (or through
    :func:`_write_epochs`, which runs several side by side). An epoch
    that :func:`compact_epochs` already folded into the store's base
    (listed in its hidden ``_base_epochs.json``) is skipped, so
    replaying it after a compaction is a no-op too.

    After the data commit the store's read schema is recorded in the
    hidden ``_schema.json`` at the store root (Spark, pyarrow and DuckDB
    skip underscore files), replaced atomically. It is exactly the schema
    ``spark.read.parquet(path)`` infers: the data columns, then
    ``epoch_id``, then ``partition_cols``, their types inferred from the
    directory names. Recording it reads no file footer: it lists the
    partition directories on the driver and starts no Spark job (unless
    one directory level holds more than Spark's parallel-listing
    threshold, 32 by default). :func:`read_epochs` reads the store with
    it, so a query starts no schema-inference job. An epoch whose column
    names or types differ from the recorded schema (nullability aside)
    raises ``ValueError`` before anything is written."""
    _epoch_write(df, path, epoch_id, *partition_cols)()


def _epoch_write(
    df: DataFrame, path: str, epoch_id: int, *partition_cols: str
) -> Callable[[], None]:
    """:func:`write_epoch` in two steps: the skip and schema checks run
    here, on the caller's thread (a drift raises ``ValueError`` now);
    the returned call writes the epoch and records the schema."""
    if epoch_id in _base_epochs(path):
        return lambda: None
    out = df.withColumn("epoch_id", F.lit(epoch_id))
    parts = ["epoch_id", *partition_cols]
    data = StructType([f for f in out.schema.fields if f.name not in parts])
    if os.path.exists(os.path.join(path, SCHEMA_FILE)):
        recorded = _recorded_schema(path)
        if (
            recorded.names != data.names + parts
            or StructType(recorded.fields[: len(data.fields)]).simpleString()
            != data.simpleString()
        ):
            raise ValueError(
                f"epoch {epoch_id} of {path}: columns {data.simpleString()} + {parts}"
                f" differ from the recorded {recorded.simpleString()}"
            )

    def write() -> None:
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(path)
        )
        # the data schema is given, so only the partition directories are
        # listed (driver-side, no job); a store without rows yet has none
        schema = df.sparkSession.read.schema(data).parquet(path).schema
        for c in parts:
            if c not in schema.names:
                schema.add(c, out.schema[c].dataType)
        _write_atomic(os.path.join(path, SCHEMA_FILE), schema.json())

    return write


def _write_epochs(epoch_id: int, stores: dict[str, DataFrame]) -> None:
    """One epoch of each ``{path: df}`` store, side by side: every
    store's plan is already built and its schema is checked here, on
    the caller's thread, so a drift in any store raises before any
    store of the epoch is written. The writes then run on driver
    threads (:func:`~memfuse_spark.threads.run_beside`), all joined
    before this returns or raises."""
    writes = [_epoch_write(df, path, epoch_id) for path, df in stores.items()]
    run_beside(next(iter(stores.values())).sparkSession, *writes)


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _recorded_schema(path: str) -> StructType:
    with open(os.path.join(path, SCHEMA_FILE)) as fh:
        return StructType.fromJson(json.load(fh))


def _base_epochs(path: str) -> set[int]:
    try:
        with open(os.path.join(path, BASE_FILE)) as fh:
            return set(json.load(fh))
    except FileNotFoundError:
        return set()


def read_epochs(spark: SparkSession, path: str) -> DataFrame:
    """Every epoch of the store at ``path``, read with the schema
    :func:`write_epoch` recorded: no schema-inference job. A store
    without ``_schema.json`` raises ``FileNotFoundError``; nothing falls
    back to inference. Every epoch-store read in the engine goes through
    here."""
    try:
        schema = _recorded_schema(path)
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"{path} is not a parquet epoch store written by write_epoch: no {SCHEMA_FILE}"
        ) from e
    return spark.read.schema(schema).parquet(path)


def compact_epochs(spark: SparkSession, path: str, fold, *partition_cols: str) -> dict:
    """Segment-merge the epoch store at ``path``: every epoch folds into
    one ``epoch_id=_BASE_EPOCH`` partition (``partition_cols`` nest
    below it, as :func:`write_epoch` lays them out), an epoch id no
    writer uses. ``fold`` maps all the store's rows to the base's rows
    and sets their file layout; each store passes its own. N appended
    epochs otherwise leave N small files per partition, and query-time
    IO degrades linearly in segment count. The base is shadow-written
    next to the store, then swapped in by directory rename (on a
    lakehouse this is OPTIMIZE). The shadow also records, atomically
    and before the swap, which epoch ids the base now holds; the swap
    moves that record with the data, and :func:`write_epoch` skips
    those ids, so replaying a folded epoch cannot add its rows twice.
    Returns {"files_before", "files_after"}.

    Concurrency: the swap is two sequential os.rename calls, so there
    is a window where ``path`` does not exist. A concurrent reader, not
    just a concurrent writer, errors during that gap; this holds for
    the vector store and for each of the keyword index's stores. The
    contract is single writer, paused readers. If reads must continue
    during compaction, front the path with a symlink or a catalog
    indirection and repoint it atomically."""
    df = read_epochs(spark, path)
    files_before = len(df.inputFiles())
    folded = _base_epochs(path) | {
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("epoch_id=")
    }
    folded.discard(_BASE_EPOCH)
    tag = uuid.uuid4().hex[:8]
    tmp = f"{path}__tmp_{tag}"
    write_epoch(fold(df), tmp, _BASE_EPOCH, *partition_cols)
    _write_atomic(os.path.join(tmp, BASE_FILE), json.dumps(sorted(folded)))
    old = f"{path}__old_{tag}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {
        "files_before": files_before,
        "files_after": len(read_epochs(spark, path).inputFiles()),
    }


def _epoch_stream(stream: DataFrame, out_base: str, process_batch) -> "StreamingQuery":
    """Start ``process_batch(batch, epoch_id)`` over ``stream`` as one
    exactly-once ``foreachBatch`` per micro-batch: checkpoint under
    ``out_base``, availableNow drain, empty micro-batches skipped."""

    def run(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            process_batch(batch, epoch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", os.path.join(out_base, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def write_hierarchy_epoch(batch: DataFrame, epoch_id: int, out_base: str) -> None:
    """Write one micro-batch's M0/M1/M2 fan-out, each layer one epoch
    of its store (:func:`write_epoch`: replay-safe). Each layer's plan
    is derived once, on the caller's thread: M1 groups M0's rows within
    M0's per-conversation exchange and M2 is a row map over M1's chunks,
    so each store's write shuffles the batch once (2 jobs, 6 for the
    epoch). Every schema is checked before any store is written, and
    the three writes then run side by side (:func:`_write_epochs`)."""
    from memfuse_spark.operators import hierarchy as h

    m0 = h.m0_from_events(batch)
    m1 = h.m1_from_m0(m0)
    m2 = h.m2_facts_from_m1(m1)
    _write_epochs(
        epoch_id,
        {
            os.path.join(out_base, "m0"): m0,
            os.path.join(out_base, "m1"): m1,
            os.path.join(out_base, "m2"): m2,
        },
    )


def ingest_stream(events_stream: DataFrame, out_base: str) -> "StreamingQuery":
    """B2/B9 micro-batch ingest: each batch writes M0, M1 chunks and M2
    facts in one exactly-once ``foreachBatch`` (the reference's parallel
    layer fan-out, hierarchy/parallel_manager.py:93-360 — the three
    tables are written side by side from one batch closure,
    :func:`write_hierarchy_epoch`).

    Exactly-once: output is PARTITIONED BY epoch_id and written with
    dynamic partition overwrite, so a retried epoch (checkpoint replay
    after a crash mid-batch) REPLACES its own partition instead of
    double-appending — idempotent without relying on the checkpoint
    alone. Readers just scan the table; `epoch_id` is metadata.
    """
    return _epoch_stream(
        events_stream,
        out_base,
        lambda batch, epoch_id: write_hierarchy_epoch(batch, epoch_id, out_base),
    )


def read_your_writes(
    persisted: DataFrame, unflushed: DataFrame, id_col: str = "message_id"
) -> DataFrame:
    """B4/§3.4: union of storage and the un-flushed buffer, buffer rows
    winning on id collision (priority 0 beats 1), as one lazy view."""
    from memfuse_spark.operators.fusion import dedup_by_priority

    buf = unflushed.withColumn("source_priority", F.lit(0))
    store = persisted.withColumn("source_priority", F.lit(1))
    merged = buf.unionByName(store)
    # dedup_by_priority needs a score column; rank purely by priority
    if "score" not in merged.columns:
        merged = merged.withColumn("score", F.lit(0.0))
        return dedup_by_priority(merged, id_col=id_col).drop("score")
    return dedup_by_priority(merged, id_col=id_col)


def speculative_prefetch(
    corpus: DataFrame,
    recent_ids: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """B5 SpeculativeBuffer prediction (reference buffer/
    speculative_buffer.py:43-199 — a PLACEHOLDER there; this implements
    its declared ``semantic_similarity`` strategy): the prefetch
    context is the mean embedding of the recent items (summed in id
    order so the float fold is deterministic), and the prefetch set is
    the top-k most similar corpus items excluding the recent ones.

    Plan shape: the context is a 1-row aggregate broadcast into the
    corpus scan; the result is TakeOrderedAndProject — no corpus
    shuffle, same scale envelope as similarity_topk.

    ``dim`` is accepted for API compatibility and ignored — the context
    expression sizes itself from the data.
    """
    n = len(recent_ids)
    recent = corpus.filter(F.col(id_col).isin(list(recent_ids)))
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v")))
    )
    ctx_df = recent.agg(arr.alias("__a"))

    from memfuse_spark.functions.vector import dot, l2_norm

    # Mean context as ONE constant-size expression: transform over the
    # dimension indices, summing the n recent vectors left-to-right in
    # id order (deterministic float fold, same order as the oracle).
    # Dynamic element indexing keeps the expression tree O(n) regardless
    # of dim — a per-dimension tree made query CONSTRUCTION (driver-side
    # py4j + analysis) the dominant cost at dim=64 — and removes the
    # need for a dim probe job. Materialized with its norm on the 1-row
    # side BEFORE the join (Spark does not CSE).
    def term(j: int):
        return F.element_at(F.col("__a"), j + 1)["v"]

    def mean_elem(i):
        expr = term(0)[i]
        for j in range(1, n):
            expr = expr + term(j)[i]
        return expr / F.lit(float(n))

    ctx = F.transform(F.sequence(F.lit(0), F.size(term(0)) - 1), mean_elem)
    ctx_df = ctx_df.select(ctx.alias("__ctx")).select(
        "__ctx", l2_norm("__ctx").alias("__ctxn")
    )

    scored = corpus.filter(~F.col(id_col).isin(list(recent_ids))).crossJoin(
        F.broadcast(ctx_df)
    )
    # identical operation tree to functions.vector.cosine_similarity
    # (try_divide + coalesce zero-guard) — bit-identical scores, but the
    # context side's fold ran once on the 1-row table, so each corpus
    # row evaluates exactly 2 interpreted folds (dot + own norm).
    score = F.round(
        F.coalesce(
            F.try_divide(
                dot(F.col(vec_col), F.col("__ctx")),
                l2_norm(F.col(vec_col)) * F.col("__ctxn"),
            ),
            F.lit(0.0),
        ),
        score_decimals,
    )
    return (
        scored.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def index_ingest_stream(
    docs_stream: DataFrame,
    out_base: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "StreamingQuery":
    """Streaming maintenance of the incremental inverted index: each
    micro-batch is one :func:`write_index_epoch`, the same epoch a batch
    build (epoch 0) or append (the next epoch) writes.

    Per micro-batch, THREE associative partials land as epoch_id
    partitions with dynamic overwrite (a replayed epoch replaces its
    own partitions — the exactly-once pattern every sink here uses):
    the batch's postings rows, its per-term df partial, and its
    (n_docs, avgdl) stats partial. Because document frequency and
    corpus stats are MERGEABLE (keyed sum / weighted mean), an append
    rewrites nothing historical. Query-time merge is
    keyword.bm25_topk_from_stream_index: filter postings to the query
    terms, sum the df partials, recombine stats;
    keyword.compact_stream_index folds the epochs into one base.

    Outputs under out_base: ``postings/``, ``dfparts/``, ``statsparts/``.
    """
    return _epoch_stream(
        docs_stream,
        out_base,
        lambda batch, epoch_id: write_index_epoch(
            batch, out_base, epoch_id, id_col, text_col
        ),
    )


def write_index_epoch(
    batch: DataFrame,
    out_base: str,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One epoch's index partials (shared by the stream above and the
    batch builds): postings + df partial + stats partial, each under an
    epoch_id partition with dynamic overwrite (replay-safe). The three
    plans are built and their schemas checked on the caller's thread,
    then written side by side (:func:`_write_epochs`)."""
    from memfuse_spark.operators.keyword import (
        build_postings,
        corpus_stats,
        document_frequency,
    )

    postings = build_postings(batch, id_col, text_col)
    _write_epochs(
        epoch_id,
        {
            os.path.join(out_base, "postings"): postings,
            os.path.join(out_base, "dfparts"): document_frequency(postings),
            os.path.join(out_base, "statsparts"): corpus_stats(postings),
        },
    )


def write_vector_epoch(
    batch: DataFrame,
    out_base: str,
    epoch_id: int,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
) -> None:
    """One epoch of the LSH-bucketed vector store (shared by the stream
    below and its batch twin; ann.compact_bucketed_corpus compacts it):
    rows land under (epoch_id, bucket) partitions with dynamic overwrite,
    so a replayed epoch rewrites exactly its own partitions, and
    ann.bucketed_topk's bucket predicate still prunes partitions (bucket
    is a partition column below the epoch level)."""
    from memfuse_spark.operators.ann import lsh_bucket

    write_epoch(
        batch.withColumn("bucket", lsh_bucket(vec_col, dim, num_planes)),
        os.path.join(out_base, "vectors"),
        epoch_id,
        "bucket",
    )


def vector_ingest_stream(
    vec_stream: DataFrame,
    out_base: str,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
) -> "StreamingQuery":
    """Streaming maintenance of the LSH-bucketed vector store — the
    vector-side twin of index_ingest_stream. Per micro-batch the new
    vectors land under (epoch_id, bucket) partitions (dynamic
    overwrite: replay-safe); the store is queryable at any time with
    bucket partition pruning (ann.bucketed topk shape). Nothing
    historical is ever rewritten."""
    return _epoch_stream(
        vec_stream,
        out_base,
        lambda batch, epoch_id: write_vector_epoch(
            batch, out_base, epoch_id, dim, num_planes, vec_col
        ),
    )
