"""The benchmark's workloads: recall_single, recall_batch, ingest_mixed.

All three are closed loops with one client: the next request is sent
only when the previous one has returned. Each workload builds its
stores during set-up, then each ``step()`` runs one cycle: one request
(or, for ingest_mixed, one epoch append followed by its read-your-writes
queries), recording its ops; ``prepare()`` does a cycle's untimed
groundwork before it. Results are checked after the measured window, so
checking never delays a request.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
import reference as ref

K = 15
FIRST_STAGE_K = 30
BATCH = 32
ANN_K = 10
ANN_PLANES = 4
WEIGHTS = {"vector": 0.5, "graph": 0.3, "keyword": 0.2}
RRF_K = 60.0
RYW_PER_EPOCH = 5
SETUP_REPS = 3
# recalls after set-up and before the window: recall latency falls by
# ~30% over the first ~20 recalls while the JVM compiles. A count, not a
# time, so a slow host does not leave the window earlier on that slope.
WARMUP_RECALLS = 8
# share of ops whose values are also compared against the reference
SAMPLE_RATE = 0.35


@dataclass
class Op:
    idx: int
    cycle: int
    kind: str  # "query" (one recall / batch request / RYW query) or "write"
    ms: float
    traced: bool
    inputs: object
    result: object = None
    error: str | None = None
    checks: dict = field(default_factory=dict)


class Workload:
    """Shared plumbing: query stream, op bookkeeping, tracing hooks."""

    name = ""
    per_request = 1  # queries answered by one query op

    def __init__(self, spark, work: str, inputs: dict, sizes: datagen.Sizes,
                 seed: int, tracer=None):
        self.spark, self.work, self.inputs, self.sizes = spark, work, inputs, sizes
        self.seed, self.tracer = seed, tracer
        self.queries = datagen.query_stream(seed, 4096, stream=self.name)
        self.next_q = 0
        self.ops: list[Op] = []
        self.cycle = 0  # step() runs one cycle: a request, or an append + its queries
        self.sample = random.Random(f"{seed}-{self.name}-sample")
        self.setup_times: dict[str, list[float]] = {}
        self.layer_samples: dict[str, list[float]] = {}

    # -- helpers -------------------------------------------------------
    def query_text(self) -> str:
        t = self.queries[self.next_q % len(self.queries)]
        self.next_q += 1
        return t

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    @contextmanager
    def timed_setup(self, key: str):
        t0 = time.perf_counter()
        yield
        self.setup_times.setdefault(key, []).append(time.perf_counter() - t0)

    @contextmanager
    def op(self, kind: str, traced: bool, inputs):
        """Time one op; its spans form one tree under an ``op`` root."""
        rec = Op(len(self.ops), self.cycle, kind, 0.0, traced, inputs)
        tr = self.tracer
        if tr is not None:
            tr.active, tr.op = traced, rec.idx
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec
        except Exception as exc:  # an op failure is a result, not a crash
            rec.error = f"{type(exc).__name__}: {exc}"
        finally:
            rec.ms = (time.perf_counter() - t0) * 1e3
            if tr is not None:
                tr.active = False
            self.ops.append(rec)

    @contextmanager
    def extra(self, rec: Op):
        """Traced-only probes run after an op's timing, under its op id."""
        tr = self.tracer
        tr.active, tr.op = True, rec.idx
        try:
            yield
        finally:
            tr.active = False

    def prepare(self) -> None:
        """Untimed work before each cycle (none by default)."""

    def layer(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(value)


def _ranked(rows, id_col: str = "doc_id") -> list[tuple[int, float]]:
    return [(int(r[id_col]), float(r["score"])) for r in rows]


class _Recall(Workload):
    """Set-up shared by both recall workloads: load the corpora, build
    the postings index and the edge store SETUP_REPS times (the last
    build serves)."""

    def setup(self) -> None:
        from memfuse_spark.catalog import load_table
        from memfuse_spark.operators import graph, keyword

        in_dir = os.path.dirname(self.inputs["documents"])
        with self.timed_setup("catalog.load_s"):
            self.docs = load_table(self.spark, in_dir, "documents")
            self.emb = load_table(self.spark, in_dir, "embeddings")
        for rep in range(SETUP_REPS):
            path = os.path.join(self.work, "stores", f"rep{rep}")
            self.index = f"perfbench_postings_{rep}"
            with self.timed_setup("rep_s"):
                with self.timed_setup("keyword.index_build_s"):
                    keyword.build_postings_index(self.spark, self.docs, self.index, path=path)
                with self.timed_setup("graph.edges_build_s"):
                    graph.build_edges_store(self.spark, self.emb, f"perfbench_edges_{rep}", path=path)
                self.edges = self.spark.table(f"perfbench_edges_{rep}")

    def warmup(self) -> None:
        for _ in range(WARMUP_RECALLS):
            self._recall_one(self.query_text())

    def _recall_one(self, text: str):
        from memfuse_spark.functions import vector
        from memfuse_spark.plans import pipeline

        with self.span("vector.embed_query"):
            qvec = vector.py_hash_embedding(text, datagen.DIM)
        with self.span("pipeline.call"):
            df = pipeline.hybrid_retrieval_3way(
                self.docs, self.emb, self.edges, text, qvec, k=K,
                first_stage_k=FIRST_STAGE_K, weights=WEIGHTS, rrf_k=RRF_K,
                postings_index=self.index,
            )
        with self.span("pipeline.collect"):
            rows = df.collect()
        return qvec, df, rows

    def reference(self) -> ref.RecallReference:
        return ref.RecallReference(
            self.inputs["documents"], self.inputs["embeddings"], WEIGHTS, RRF_K
        )


class RecallSingle(_Recall):
    name = "recall_single"

    def step(self, traced: bool) -> None:
        text = self.query_text()
        with self.op("query", traced, text) as rec:
            qvec, df, rows = self._recall_one(text)
            rec.result = _ranked(rows)
        if traced and rec.error is None:
            self._probe(rec, text, qvec, df)

    def _probe(self, rec: Op, text: str, qvec, df) -> None:
        """Run each retrieval branch standalone and read plan metrics."""
        from memfuse_spark.operators import keyword, similarity
        from spans import scan_rows

        self.layer("pipeline.rows_scanned_per_result", scan_rows(df) / max(1, len(rec.result)))
        with self.extra(rec):
            with self.span("similarity.collect"):
                similarity.similarity_topk(self.emb, qvec, FIRST_STAGE_K).collect()
            with self.span("keyword.collect"):
                kdf = keyword.bm25_topk_from_index(self.spark, self.index, text, FIRST_STAGE_K)
                krows = kdf.collect()
        self.layer("keyword.postings_rows_per_result", scan_rows(kdf) / max(1, len(krows)))

    def verify(self) -> None:
        from memfuse_spark.functions.vector import py_hash_embedding

        r = self.reference()
        try:
            for op in self.ops:
                if op.error:
                    continue
                op.checks["basic"] = ref.check_ranked(op.result, K, r.doc_ids, exact_k=True)
                if op.idx == 0 or self.sample.random() < SAMPLE_RATE:
                    text = op.inputs
                    want = r.recall(text, py_hash_embedding(text, datagen.DIM), K, FIRST_STAGE_K)
                    op.checks["reference"] = ref.compare(op.result, want)
        finally:
            r.bm25.close()


class RecallBatch(_Recall):
    name = "recall_batch"
    per_request = BATCH

    def warmup(self) -> None:
        super().warmup()
        self._batch(self._texts())

    def _texts(self) -> list[str]:
        return [self.query_text() for _ in range(BATCH)]

    def _batch(self, texts: list[str]):
        from memfuse_spark.functions import vector
        from memfuse_spark.plans import pipeline

        with self.span("vector.embed_query"):
            queries = {i: (t, vector.py_hash_embedding(t, datagen.DIM)) for i, t in enumerate(texts)}
        with self.span("pipeline.call"):
            df = pipeline.hybrid_batch_retrieval_3way(
                self.docs, self.emb, self.edges, queries, k=K,
                first_stage_k=FIRST_STAGE_K, weights=WEIGHTS, rrf_k=RRF_K,
                postings_index=self.index,
            )
        with self.span("pipeline.collect"):
            rows = df.collect()
        return queries, df, rows

    def step(self, traced: bool) -> None:
        texts = self._texts()
        with self.op("query", traced, texts) as rec:
            queries, df, rows = self._batch(texts)
            per_q: dict[int, list] = {i: [] for i in range(len(texts))}
            for r in rows:
                per_q[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
            rec.result = per_q
        if traced and rec.error is None:
            self._probe(rec, queries, df)

    def _probe(self, rec: Op, queries: dict, df) -> None:
        from memfuse_spark.operators import keyword, similarity
        from spans import scan_rows

        n_rows = sum(len(v) for v in rec.result.values())
        self.layer("pipeline.rows_scanned_per_result", scan_rows(df) / max(1, n_rows))
        with self.extra(rec):
            with self.span("similarity.collect"):
                qvecs = self.spark.createDataFrame(
                    [(i, list(map(float, v))) for i, (_, v) in sorted(queries.items())],
                    "query_id int, qvec array<double>",
                )
                similarity.similarity_join(qvecs, self.emb, FIRST_STAGE_K).collect()
            with self.span("keyword.collect"):
                kdf = keyword.bm25_batch_topk_from_index(
                    self.spark, self.index, {i: t for i, (t, _) in queries.items()},
                    FIRST_STAGE_K,
                )
                krows = kdf.collect()
        self.layer("keyword.postings_rows_per_result", scan_rows(kdf) / max(1, len(krows)))

    def verify(self) -> None:
        from memfuse_spark.functions.vector import py_hash_embedding

        r = self.reference()
        try:
            for op in self.ops:
                if op.error:
                    continue
                bad = [
                    f"q{i}: {e}" for i, rows in op.result.items()
                    if (e := ref.check_ranked(rows, K, r.doc_ids, exact_k=True))
                ]
                op.checks["basic"] = "; ".join(bad) or None
                if op.idx == 0 or self.sample.random() < SAMPLE_RATE:
                    bad = []
                    for i, text in enumerate(op.inputs):
                        want = r.recall(text, py_hash_embedding(text, datagen.DIM), K, FIRST_STAGE_K)
                        if e := ref.compare(op.result[i], want):
                            bad.append(f"q{i}: {e}")
                    op.checks["reference"] = "; ".join(bad) or None
        finally:
            r.bm25.close()


class IngestMixed(Workload):
    """Epoch appends beside read-your-writes queries.

    Set-up appends epoch 0 to empty hierarchy / keyword / vector stores.
    Each cycle then starts from a fresh copy of that one-epoch store
    (copied outside the measured time), appends epoch 1 to it and serves
    RYW_PER_EPOCH queries over both epochs. Every measured read thus
    merges the same two epochs on every commit, however many cycles a
    window holds. The cycle's slice rotates through the source slices,
    ids shifted by ID_STRIDE per pass, so every appended epoch is new."""

    name = "ingest_mixed"
    EPOCH = 1  # the epoch id each cycle appends

    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            base = os.path.join(self.work, "setup", f"rep{rep}")
            with self.timed_setup("rep_s"):
                self._append(base, 0, self._source(0))
                self._ryw(base, self.query_text())
        self.seed_store = base
        self.stores: dict[int, str] = {}  # cycle -> its store
        self.sources: dict[int, dict] = {}  # cycle -> appended slice, if the write succeeded
        self.counts: dict[int, dict[str, dict[int, int]]] = {}  # read back in verify()

    def warmup(self) -> None:
        """The set-up appends and queries are the warm-up."""

    def prepare(self) -> None:
        self.stores[self.cycle] = os.path.join(self.work, "cycles", str(self.cycle))
        shutil.copytree(self.seed_store, self.stores[self.cycle])

    def _source(self, n: int) -> dict:
        """The n-th slice appended: source slice n mod S, ids shifted by
        ID_STRIDE per completed pass over the S slices."""
        epochs = self.inputs["epochs"]
        return {"files": epochs[n % len(epochs)], "shift": (n // len(epochs)) * datagen.ID_STRIDE}

    def _append(self, base: str, epoch: int, source: dict) -> None:
        from pyspark.sql import functions as F

        from memfuse_spark.catalog import load_table
        from memfuse_spark.streaming import buffer

        files, shift = source["files"], source["shift"]

        def slice_of(name: str, cols: tuple[str, ...]):
            path = files[name]
            df = load_table(self.spark, os.path.dirname(path), os.path.basename(path)[:-8])
            for c in cols:
                df = df.withColumn(c, F.col(c) + F.lit(shift))
            return df

        buffer.write_hierarchy_epoch(
            slice_of("events", ("event_id", "user_id")), epoch, os.path.join(base, "hierarchy")
        )
        buffer.write_index_epoch(slice_of("docs", ("doc_id",)), os.path.join(base, "keyword"), epoch)
        buffer.write_vector_epoch(
            slice_of("vectors", ("vec_id",)), os.path.join(base, "vector"), epoch,
            dim=datagen.DIM, num_planes=ANN_PLANES,
        )

    def _ryw(self, base: str, text: str):
        from memfuse_spark.functions import vector
        from memfuse_spark.operators import ann, keyword

        with self.span("vector.embed_query"):
            qvec = vector.py_hash_embedding(text, datagen.DIM)
        kdf = keyword.bm25_topk_from_stream_index(self.spark, os.path.join(base, "keyword"), text, K)
        with self.span("keyword.collect"):
            krows = kdf.collect()
        adf = ann.bucketed_topk(
            self.spark, os.path.join(base, "vector", "vectors"), qvec, ANN_K,
            num_planes=ANN_PLANES,
        )
        with self.span("ann.collect"):
            arows = adf.collect()
        return kdf, krows, arows

    def step(self, traced: bool) -> None:
        """One cycle: an epoch append, then RYW_PER_EPOCH queries. The
        window ends on a cycle boundary, so throughput is measured over
        whole cycles."""
        cycle, store = self.cycle, self.stores[self.cycle]
        source = self._source(1 + cycle)
        with self.op("write", traced, cycle) as rec:
            self._append(store, self.EPOCH, source)
            rec.result = source
        if rec.error is None:
            self.sources[cycle] = source
        for _ in range(RYW_PER_EPOCH):
            text = self.query_text()
            with self.op("query", traced, (text, cycle)) as q:
                kdf, krows, arows = self._ryw(store, text)
                q.result = (_ranked(krows), _ranked(arows, "vec_id"))
            if traced and q.error is None:
                from spans import scan_rows

                self.layer("keyword.postings_rows_per_result", scan_rows(kdf) / max(1, len(krows)))

    # -- after the window ----------------------------------------------
    def visible(self, cycle: int) -> list[dict]:
        """The source slices a query of ``cycle`` can see."""
        return [self._source(0)] + ([self.sources[cycle]] if cycle in self.sources else [])

    def store_files(self) -> list[tuple[str, int]]:
        out = []
        for store in self.stores.values():
            for root, _, names in os.walk(store):
                for n in names:
                    p = os.path.join(root, n)
                    out.append((p, os.path.getsize(p)))
        return out

    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for c in self.stores
                   for src in self.visible(c) for p in src["files"].values())

    def rows_ingested(self) -> int:
        s = self.sizes
        return len(self.sources) * (s.events_per_epoch + s.docs_per_epoch + s.vectors_per_epoch)

    def verify(self) -> None:
        from memfuse_spark.functions.vector import py_hash_embedding

        s = self.sizes
        planes = ref.lsh_planes(ANN_PLANES, datagen.DIM)
        bm25 = ref.Bm25()
        try:
            for op in self.ops:
                if op.error:
                    continue
                if op.kind == "write":
                    store = self.stores[op.inputs]
                    counts = self.counts[op.inputs] = ref.epoch_counts(store)
                    bad = []
                    for name, want in (("m0", s.events_per_epoch), ("docs", s.docs_per_epoch),
                                       ("vectors", s.vectors_per_epoch)):
                        if counts[name].get(self.EPOCH) != want:
                            bad.append(f"{name} rows {counts[name].get(self.EPOCH)} != {want}")
                    if not counts["m1"].get(self.EPOCH):
                        bad.append("no m1 chunks")
                    op.checks["basic"] = "; ".join(bad) or None
                    if op.idx == 0 or self.sample.random() < SAMPLE_RATE:
                        src = op.result
                        op.checks["reference"] = ref.compare_hierarchy(
                            os.path.join(store, "hierarchy"), self.EPOCH,
                            src["files"]["events"], src["shift"],
                        )
                    continue
                text, cycle = op.inputs
                visible = self.visible(cycle)
                doc_files = [(a["files"]["docs"], a["shift"]) for a in visible]
                vec_files = [(a["files"]["vectors"], a["shift"]) for a in visible]
                vids, vmat = ref.load_vectors(vec_files)
                doc_ids = {
                    i + shift
                    for p, shift in doc_files
                    for i in pq.read_table(p, columns=["doc_id"]).column(0).to_pylist()
                }
                kres, ares = op.result
                bad = [e for e in (
                    ref.check_ranked(kres, K, doc_ids, exact_k=False),
                    ref.check_ranked(ares, ANN_K, set(vids.tolist()), exact_k=False),
                ) if e]
                op.checks["basic"] = "; ".join(bad) or None
                if op.idx <= 1 or self.sample.random() < SAMPLE_RATE:
                    bm25.set_documents(doc_files)
                    qvec = py_hash_embedding(text, datagen.DIM)
                    buckets = ref.lsh_buckets(vmat, planes)
                    bad = [e for e in (
                        ref.compare(kres, bm25.topk(text, K)),
                        ref.compare(ares, ref.bucketed_topk(vids, vmat, buckets, qvec, ANN_K, planes)),
                    ) if e]
                    op.checks["reference"] = "; ".join(bad) or None
        finally:
            bm25.close()


WORKLOADS = {w.name: w for w in (RecallSingle, RecallBatch, IngestMixed)}
