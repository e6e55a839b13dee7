"""Seeded synthetic inputs for the memory-layer benchmark.

Everything the benchmark feeds the engine comes from here, as a pure
function of (seed, sizes): the document corpus, the vector corpus, the
event stream sliced into ingest epochs, and the query stream. The same
seed gives byte-identical parquet files and the same query texts.

Shapes follow the engine's fixture tables (catalog.TABLES):
documents(doc_id, text), embeddings(vec_id, embedding float[dim],
label), events(event_id, ts, user_id, event_type, value, props).
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every shape parameter below is measured on the engine's sf0.1 test
# corpus (5,000 documents, 2,000 embeddings, 100,000 events), the corpus
# the benchmark's sizing was probed on; README.md "Calibration" lists the
# measurements and compares the generated corpus with it.
# documents.text: 10-99 words drawn uniformly from these 30; 5% of the
# documents are a copy of another document with " dup" appended
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_WORDS = (10, 99)
DUP_SHARE = 0.05
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20  # documents.source = src{doc_id % 20}
# embeddings: isotropic Gaussian directions, unit norm, label uniform in
# [0, 10) and unrelated to the vector
DIM = 64
N_LABELS = 10
# events: uniform users (1,500 at sf 0.1), uniform event types, value
# exponential with mean 50 (2 decimals), props {"k": 0-99}, timestamps
# sorted and 100,000 per 30 days from 2024-01-01
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VALUE_MEAN = 50.0
EVENT_GAP_US = 30 * 86_400_000_000 // 100_000
# query texts: 2-4 vocabulary terms, Zipf-drawn so popular terms repeat
QUERY_ZIPF_A = 1.3
# id shift per pass over the source slices, so a reused slice is new data
# (the same stride tools/synth_scale.py uses for its key-shifted copies)
ID_STRIDE = 10_000_000


@dataclass(frozen=True)
class Sizes:
    """Corpus and per-epoch sizes. ``sf`` scales them like the engine's
    test corpus: sf 0.1 = 5,000 docs, 2,000 vectors, 1,500 users; an
    ingest epoch is a 5,000-event slice of that event stream."""

    docs: int
    vectors: int
    users: int
    events_per_epoch: int
    docs_per_epoch: int
    vectors_per_epoch: int
    source_epochs: int

    @classmethod
    def for_sf(cls, sf: float) -> "Sizes":
        return cls(
            docs=max(50, round(50_000 * sf)),
            vectors=max(40, round(20_000 * sf)),
            users=max(10, round(15_000 * sf)),
            events_per_epoch=max(200, round(50_000 * sf)),
            docs_per_epoch=max(20, round(2_500 * sf)),
            vectors_per_epoch=max(20, round(1_000 * sf)),
            source_epochs=3,
        )


def _zipf_index(rng: np.random.Generator, n: int, size) -> np.ndarray:
    """Zipf-distributed indices in [0, n): popular items repeat."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -QUERY_ZIPF_A
    return rng.choice(n, size=size, p=p / p.sum())


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _vectors(rng: np.random.Generator, n: int):
    v = rng.normal(0.0, 1.0, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), rng.integers(0, N_LABELS, size=n).astype(np.int32)


def _docs_table(ids: np.ndarray, rng: np.random.Generator) -> pa.Table:
    texts = _texts(rng, len(ids))
    dups = np.flatnonzero(rng.random(len(ids)) < DUP_SHARE)
    for i, j in zip(dups, rng.integers(0, len(ids), size=len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), size=len(ids), p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _emb_table(ids: np.ndarray, rng: np.random.Generator) -> pa.Table:
    vecs, labels = _vectors(rng, len(ids))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events_table(rng: np.random.Generator, first_id: int, n: int, n_users: int) -> pa.Table:
    """Events ``first_id`` .. ``first_id + n - 1`` of one continuous
    stream: the slice's timestamps start where the previous slice's
    span ends."""
    span = n * EVENT_GAP_US
    base = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(first_id * EVENT_GAP_US, "us")
    offs = np.sort(rng.integers(0, span, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_inputs(out_dir: str, seed: int, sizes: Sizes) -> dict:
    """Write every input table under ``out_dir``; return their paths.

    Layout: ``documents.parquet`` and ``embeddings.parquet`` (the
    prebuilt corpora the recall workloads serve) and, per source epoch
    e, ``epochs/{events,docs,vectors}_{e}.parquet`` (the slices the
    ingest workload appends). Epoch ids continue past the corpus ids, so
    ingested rows never collide with the prebuilt ones.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "epochs"), exist_ok=True)
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
        "epochs": [],
    }
    pq.write_table(_docs_table(np.arange(sizes.docs), rng), paths["documents"])
    pq.write_table(_emb_table(np.arange(sizes.vectors), rng), paths["embeddings"])

    for e in range(sizes.source_epochs):
        ep = {}
        ev = _events_table(rng, e * sizes.events_per_epoch, sizes.events_per_epoch, sizes.users)
        d0 = sizes.docs + e * sizes.docs_per_epoch
        dt = _docs_table(np.arange(d0, d0 + sizes.docs_per_epoch), rng)
        v0 = sizes.vectors + e * sizes.vectors_per_epoch
        vt = _emb_table(np.arange(v0, v0 + sizes.vectors_per_epoch), rng)
        for name, table in (("events", ev), ("docs", dt), ("vectors", vt)):
            ep[name] = os.path.join(out_dir, "epochs", f"{name}_{e}.parquet")
            pq.write_table(table, ep[name])
        paths["epochs"].append(ep)
    return paths


def query_stream(seed: int, n: int, stream: str = "") -> list[str]:
    """``n`` query texts of 2-4 vocabulary terms, terms Zipf-drawn over a
    seeded popularity order so popular terms repeat across queries. Each
    named stream has its own generator, separate from the corpus one, so
    corpus sizes never shift the queries."""
    rng = np.random.default_rng([seed, zlib.crc32(stream.encode())])
    order = rng.permutation(len(VOCAB))
    lens = rng.integers(2, 5, size=n)
    terms = order[_zipf_index(rng, len(VOCAB), int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in terms[pos:pos + ln]))
        pos += ln
    return out
