"""Independent single-process references and result checks.

Recall, keyword and vector results are recomputed here without Spark:
vector scores with NumPy, folding dot products left to right in float64
exactly as the engine's SQL fold does; BM25 with DuckDB through the
engine's SQL twin ``keyword.bm25_topk_sql``; hierarchy epochs row by
row with DuckDB through ``oracles.m0_records_sql`` / ``m1_chunks_sql`` /
``m2_facts_sql``.
Scores are compared within ``SCORE_TOL`` (one unit in the 6th decimal
plus float slack), and ids only where no tie at the cut-off makes the
top-k order ambiguous.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np
import pyarrow.parquet as pq

SCORE_TOL = 1.5e-6


def round6(a):
    """Round half away from zero (Spark's and DuckDB's double rounding)."""
    return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5) / 1e6, a)


def fold_dot(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot product summed strictly left to right."""
    return np.cumsum(mat * q, axis=-1)[..., -1]


def cosine(mat: np.ndarray, q) -> np.ndarray:
    q = np.asarray(q, dtype=np.float64)
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    nv = np.sqrt(fold_dot(mat, mat))
    with np.errstate(invalid="ignore", divide="ignore"):
        s = fold_dot(mat, q) / (nv * qn)
    return round6(np.where((nv > 0) & (qn > 0), s, 0.0))


def topk(ids, scores, k: int) -> list[tuple[int, float]]:
    """(id, score) pairs ordered by score desc, id asc, first k."""
    order = np.lexsort((np.asarray(ids), -np.asarray(scores)))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def check_ranked(rows: list[tuple[int, float]], k: int, valid_ids, exact_k: bool) -> str | None:
    """The per-op check: k rows (or at most k), scores non-increasing with
    ties in id order, every id present in the store."""
    if exact_k and len(rows) != k:
        return f"expected {k} rows, got {len(rows)}"
    if len(rows) > k:
        return f"more than {k} rows: {len(rows)}"
    for (a_id, a_s), (b_id, b_s) in zip(rows, rows[1:]):
        if b_s > a_s or (b_s == a_s and b_id < a_id):
            return f"order broken at {a_id}:{a_s} -> {b_id}:{b_s}"
    missing = [i for i, _ in rows if i not in valid_ids]
    if missing:
        return f"unknown ids {missing[:5]}"
    return None


def compare(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    if len(got) != len(want):
        return f"rows {len(got)} != reference {len(want)}"
    for (gi, gs), (wi, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"score {gi}:{gs} != reference {wi}:{ws}"
    if not want:
        return None
    cut = want[-1][1] + SCORE_TOL
    g_above = {i for i, s in got if s > cut}
    w_above = {i for i, s in want if s > cut}
    if g_above != w_above:
        return f"ids differ from reference: {sorted(g_above ^ w_above)[:5]}"
    return None


def rrf(stores: dict[str, list[tuple[int, float]]], weights: dict[str, float],
        rrf_k: float) -> dict[int, float]:
    fused: dict[int, float] = {}
    for store, ranked in stores.items():
        for rank, (i, _) in enumerate(ranked, start=1):
            fused[i] = fused.get(i, 0.0) + weights[store] / (rrf_k + rank)
    return {i: float(round6(s)) for i, s in fused.items()}


class Bm25:
    """DuckDB BM25 over a ``documents`` view of parquet files."""

    def __init__(self):
        self.con = duckdb.connect()

    def set_documents(self, files: list[tuple[str, int]]) -> None:
        """``files`` = (parquet path, doc_id shift) pairs."""
        body = " UNION ALL ".join(
            f"SELECT doc_id + {shift} AS doc_id, text FROM read_parquet('{p}')"
            for p, shift in files
        )
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS {body}")

    def topk(self, text: str, k: int) -> list[tuple[int, float]]:
        from memfuse_spark.operators.keyword import bm25_topk_sql

        return [(int(i), float(s)) for i, s in self.con.execute(bm25_topk_sql(text, k)).fetchall()]

    def close(self) -> None:
        self.con.close()


def load_vectors(files: list[tuple[str, int]]) -> tuple[np.ndarray, np.ndarray]:
    ids, mats = [], []
    for p, shift in files:
        t = pq.read_table(p, columns=["vec_id", "embedding"])
        ids.append(t.column("vec_id").to_numpy() + shift)
        mats.append(np.stack(t.column("embedding").to_numpy(zero_copy_only=False)))
    return np.concatenate(ids), np.concatenate(mats).astype(np.float64)


class RecallReference:
    """The 3-way recall (vector ∪ graph ∪ keyword → RRF → hydrate) over
    the prebuilt corpora, as hybrid_retrieval_3way defines it."""

    def __init__(self, documents: str, embeddings: str, weights: dict[str, float],
                 rrf_k: float):
        self.weights, self.rrf_k = weights, rrf_k
        self.doc_ids = set(pq.read_table(documents, columns=["doc_id"]).column(0).to_pylist())
        self.ids, self.mat = load_vectors([(embeddings, 0)])
        self.bm25 = Bm25()
        self.bm25.set_documents([(documents, 0)])
        # similarity edges (cosine >= threshold, both arcs) + FOLLOWS arcs
        from memfuse_spark.operators.graph import SIM_EDGE_THRESHOLD

        unit = self.mat / np.linalg.norm(self.mat, axis=1, keepdims=True)
        sims = round6(unit @ unit.T)
        np.fill_diagonal(sims, -1.0)
        self.adj: dict[int, dict[int, float]] = {}
        for a, b in zip(*np.nonzero(sims >= SIM_EDGE_THRESHOLD)):
            self._arc(int(self.ids[a]), int(self.ids[b]), float(sims[a, b]))
        id_set = set(self.ids.tolist())
        for i in self.ids.tolist():
            if i + 1 in id_set:
                self._arc(i, i + 1, 1.0)
        self.row_of = {int(i): r for r, i in enumerate(self.ids)}

    def _arc(self, src: int, dst: int, w: float) -> None:
        d = self.adj.setdefault(src, {})
        d[dst] = max(w, d.get(dst, w))

    def recall(self, text: str, qvec, k: int, fsk: int) -> list[tuple[int, float]]:
        scores = cosine(self.mat, qvec)
        vec = topk(self.ids, scores, fsk)
        l1 = {i for i, _ in vec}
        best: dict[int, float] = {}
        for src in l1:
            for dst, w in self.adj.get(src, {}).items():
                if dst not in l1:
                    best[dst] = max(w, best.get(dst, w))
        connected = {i: float(round6(s)) for i, s in best.items()}
        cids = np.array(sorted(connected), dtype=np.int64)
        rescored = topk(cids, scores[[self.row_of[i] for i in cids]], fsk) if len(cids) else []
        graph: dict[int, float] = {}
        for i, s in [*vec, *connected.items(), *rescored]:
            graph[i] = max(s, graph.get(i, s))
        gids = np.array(list(graph), dtype=np.int64)
        gbranch = topk(gids, np.array([graph[i] for i in gids]), fsk) if len(gids) else []
        fused = rrf(
            {"vector": vec, "graph": gbranch, "keyword": self.bm25.topk(text, fsk)},
            self.weights, self.rrf_k,
        )
        hyd = [(i, s) for i, s in fused.items() if i in self.doc_ids]
        return topk(np.array([i for i, _ in hyd]), np.array([s for _, s in hyd]), k)


def lsh_planes(num_planes: int, dim: int) -> np.ndarray:
    """ann._hyperplane: component i of plane j from md5("j|i")."""
    return np.array([
        [int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[:8], 16) / 4294967295.0 * 2.0 - 1.0
         for i in range(dim)]
        for j in range(num_planes)
    ])


def lsh_buckets(mat: np.ndarray, planes: np.ndarray) -> list[str]:
    bits = np.stack([fold_dot(mat, p) > 0 for p in planes], axis=1)
    return ["".join("1" if b else "0" for b in row) for row in bits]


def bucketed_topk(ids, mat, buckets: list[str], qvec, k: int,
                  planes: np.ndarray) -> list[tuple[int, float]]:
    q = np.asarray(qvec, dtype=np.float64)
    qb = lsh_buckets(q[None, :], planes)[0]
    sel = np.array([b == qb for b in buckets], dtype=bool)
    if not sel.any():
        return []
    return topk(ids[sel], cosine(mat[sel], q), k)


def epoch_counts(store: str) -> dict[str, dict[int, int]]:
    """Rows per epoch in each table of one ingest store, read back from
    its parquet partitions."""
    tables = (
        ("m0", "hierarchy/m0/*/*.parquet", "count(*)"),
        ("m1", "hierarchy/m1/*/*.parquet", "count(*)"),
        ("m2", "hierarchy/m2/*/*.parquet", "count(*)"),
        ("docs", "keyword/statsparts/*/*.parquet", "sum(n_docs)"),
        ("vectors", "vector/vectors/*/*/*.parquet", "count(*)"),
    )
    con = duckdb.connect()
    try:
        out = {}
        for name, glob, agg in tables:
            rows = con.execute(
                f"SELECT epoch_id, {agg} FROM read_parquet('{store}/{glob}',"
                " hive_partitioning = true) GROUP BY epoch_id"
            ).fetchall()
            out[name] = {int(e): int(n) for e, n in rows}
        return out
    finally:
        con.close()


def _rows_differ(got: list[tuple], want: list[tuple], floats: tuple[int, ...]) -> str | None:
    """Rows sorted by their first column; columns in ``floats`` compared
    within SCORE_TOL (lists of floats elementwise), the rest exactly."""
    if len(got) != len(want):
        return f"{len(got)} rows != reference {len(want)}"
    for g, w in zip(sorted(got, key=lambda r: r[0]), sorted(want, key=lambda r: r[0])):
        for i, (a, b) in enumerate(zip(g, w)):
            if i in floats:
                a, b = np.atleast_1d(np.asarray(a, float)), np.atleast_1d(np.asarray(b, float))
                same = a.shape == b.shape and bool(np.all(np.abs(a - b) <= SCORE_TOL))
            else:
                same = a == b
            if not same:
                return f"row {g[0]} column {i}: {a!r} != reference {b!r}"
    return None


def compare_hierarchy(out_base: str, epoch: int, events: str, shift: int) -> str | None:
    """Compare one written hierarchy epoch with the DuckDB twins of the
    hierarchy operators over its event slice: every M0 record, every M1
    chunk (content, lineage ids, token count, quality, embedding) and
    every M2 fact."""
    from memfuse_spark.oracles import m0_records_sql, m1_chunks_sql, m2_facts_sql
    from memfuse_spark.operators.hierarchy import EMBED_DIM, M1_BATCH_SIZE

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT event_id + {shift} AS event_id, ts,"
            f" user_id + {shift} AS user_id, event_type, value, props"
            f" FROM read_parquet('{events}')"
        )

        def stored(table: str, cols: str) -> list[tuple]:
            return con.execute(
                f"SELECT {cols} FROM read_parquet('{out_base}/{table}/epoch_id={epoch}/*.parquet')"
            ).fetchall()

        m0 = _rows_differ(
            stored("m0", "message_id, conversation_id, role, content, sequence_number"),
            con.execute(m0_records_sql()).fetchall(), (),
        )
        want_m1 = [
            (c, conv, b, content, ids, tok, q, [float(x) for x in emb.split(",")])
            for c, conv, b, content, ids, tok, q, emb in con.execute(
                m1_chunks_sql(M1_BATCH_SIZE, EMBED_DIM)
            ).fetchall()
        ]
        m1 = _rows_differ(
            stored("m1", "chunk_id, conversation_id, batch_id, content,"
                         " array_to_string(list_transform(m0_raw_ids, x -> CAST(x AS VARCHAR)), ','),"
                         " token_count, chunk_quality_score, embedding"),
            want_m1, (6, 7),
        )
        m2 = _rows_differ(
            stored("m2", "chunk_id, conversation_id, fact_content,"
                         " array_to_string(entities, ','), confidence"),
            con.execute(m2_facts_sql(M1_BATCH_SIZE, EMBED_DIM)).fetchall(), (4,),
        )
        bad = [f"{name}: {e}" for name, e in (("m0", m0), ("m1", m1), ("m2", m2)) if e]
        return "; ".join(bad) or None
    finally:
        con.close()
