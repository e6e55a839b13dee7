"""Keyword retrieval: inverted index + BM25 (SURVEY.md §2 X1-X4, A2, A3,
J3, T3).

The reference builds an in-memory ``Counter`` index per document and
scores BM25 in a Python loop (memfuse `store/keyword_store/bm25_store.py:
145-249`, params k1=1.5 b=0.75 at :28-29) or delegates to SQLite FTS5
(`keyword_store/sqlite_store.py:360-431`). Spark-first re-expression:

- the inverted index IS a DataFrame: ``explode(tokenize(text))`` →
  ``groupBy(doc, term).count()`` — one shuffle, map-side combined.
- corpus stats (N, avgdl, df) are tiny aggregates. Ad hoc they are
  broadcast into the scoring join; a prebuilt index records (N, avgdl)
  when it is written and the query reads them as two plan literals
  (:func:`index_stats`), so scoring it starts no job for them.
- scoring a query = equi-join of the postings table with the (broadcast)
  query-term list + pure column arithmetic + top-k. At 100 TB the
  postings table would be bucketed by term so query joins touch only
  matching buckets; filters push into the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from memfuse_spark.functions.lits import values_df
from memfuse_spark.functions.text import tokenize

BM25_K1 = 1.5
BM25_B = 0.75


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings: (doc_id, term, tf, dl).

    dl (document token length) is carried on each posting row so scoring
    needs no extra join back to the documents table.
    """
    from memfuse_spark.catalog import ensure_parallelism

    docs = ensure_parallelism(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tokens")
    ).select(
        "doc_id", F.size("tokens").alias("dl"), F.explode_outer("tokens").alias("term")
    ).filter(F.col("term").isNotNull())
    return toks.groupBy("doc_id", "term", "dl").agg(F.count("*").alias("tf"))


def corpus_stats(postings: DataFrame) -> DataFrame:
    """(n_docs, avgdl) — one tiny row, reference bm25_store.py:145-152."""
    per_doc = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def document_frequency(postings: DataFrame) -> DataFrame:
    """(term, df) — reference bm25_store.py:200-207."""
    return postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))


def build_postings_index(
    spark,
    docs: DataFrame,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Materialize the inverted index ONCE as a term-bucketed warehouse
    table (+ a 1-row ``{name}_stats`` table), the Spark analog of the
    reference's persistent FTS5 index (keyword_store/sqlite_store.py:
    376-421).

    df (document frequency) is joined onto each posting row at BUILD
    time — the join shuffles on `term`, which is exactly the bucket key
    the write needs, so it costs nothing extra. The corpus stats
    (n_docs, avgdl) are written to ``{name}_stats`` and, observed on the
    way, recorded for :func:`index_stats`, so query-time scoring
    becomes: bucket-pruned scan → arithmetic with the stats as literals
    → top-k. At 100 TB the per-query cost is
    O(postings of the query terms), not O(corpus): the isin(term)
    predicate prunes buckets AND pushes into the parquet scan.
    """
    postings = build_postings(docs, id_col, text_col)
    with_df = postings.join(document_frequency(postings), "term")
    writer = with_df.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", f"{path}/{name}")
    writer.bucketBy(num_buckets, "term").sortBy("term").saveAsTable(name)

    # the one stats row passes through an observation on its way to the
    # table, so recording it costs no job of its own
    recorded = Observation()
    stats_writer = (
        corpus_stats(spark.table(name))
        .observe(recorded, F.max("n_docs").alias("n_docs"), F.max("avgdl").alias("avgdl"))
        .write.mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        stats_writer = stats_writer.option("path", f"{path}/{name}_stats")
    stats_writer.saveAsTable(f"{name}_stats")
    got = recorded.get
    _INDEX_STATS[(spark.sparkContext, name)] = (got["n_docs"], got["avgdl"])


# (SparkContext, index name) → (n_docs, avgdl) of the last
# build_postings_index of that name. The catalog is in-memory, so a name
# resolves only under the SparkContext that built it.
_INDEX_STATS: dict[tuple[object, str], tuple[int, float | None]] = {}


def index_stats(spark, index_name: str) -> tuple[int, float | None]:
    """(n_docs, avgdl) of a :func:`build_postings_index` index, as
    Python values equal to its ``{index_name}_stats`` row: recorded at
    build, so reading them starts no Spark job and no SQL command. An
    index this process did not build is read from the stats table once."""
    key = (spark.sparkContext, index_name)
    if key not in _INDEX_STATS:
        n_docs, avgdl = spark.table(f"{index_name}_stats").select("n_docs", "avgdl").first()
        _INDEX_STATS[key] = (n_docs, avgdl)
    return _INDEX_STATS[key]


def _stats_literals(spark, index_name: str) -> dict:
    """:func:`_bm25_term_score`'s ``stats``: the index's (n_docs, avgdl)
    as a bigint and a double literal (same types and bits as its stats
    table's columns)."""
    n_docs, avgdl = index_stats(spark, index_name)
    return {
        "n_docs": F.lit(n_docs).cast("bigint"),
        "avgdl": F.lit(avgdl).cast("double"),
    }


def _bm25_term_score(k1: float, b: float, stats: dict | None = None):
    """One matched posting's BM25 term score over the columns
    (tf, dl, df, n_docs, avgdl), or (tf, dl, df) with ``stats`` giving
    n_docs and avgdl (:func:`_stats_literals`):

    idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    term_score = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    (reference: bm25_store.py:212-249)
    """
    stats = stats or {"n_docs": F.col("n_docs"), "avgdl": F.col("avgdl")}
    idf = F.log(
        (stats["n_docs"] - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / stats["avgdl"])
    )
    return (idf * tf_part).alias("term_score")


def _bm25_score(
    matched: DataFrame,
    k: int,
    k1: float,
    b: float,
    score_decimals: int,
    stats: dict | None = None,
) -> DataFrame:
    """Shared BM25 top-k over matched postings carrying
    (doc_id, tf, dl, df) and, without ``stats``, (n_docs, avgdl):
    score = Σ_t term_score(t) (:func:`_bm25_term_score`)."""
    scored = matched.select("doc_id", _bm25_term_score(k1, b, stats))
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), score_decimals).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_from_index(
    spark,
    index_name: str,
    query: str,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """T3/X2 against a prebuilt index (build_postings_index): scans the
    postings table only — never the documents table — with bucket
    pruning on the query terms; the corpus stats are literals
    (:func:`index_stats`)."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    postings = spark.table(index_name).filter(F.col("term").isin(q_terms))
    return _bm25_score(
        postings, k, k1, b, score_decimals, _stats_literals(spark, index_name)
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """BM25 top-k over a raw document table (X2 + T3), ad-hoc path.

    Builds the postings for THIS query only; for repeated queries use
    build_postings_index + bm25_topk_from_index (the postings build is a
    full corpus tokenize+shuffle you don't want per query). The postings
    are persisted for the three uses inside the query (stats, dfs,
    match), the ≤k-row result is materialized eagerly, and the cache is
    ALWAYS released — repeated ad-hoc queries leave no cached RDDs.
    """
    spark = docs.sparkSession
    q_terms = sorted({t for t in _py_tokenize(query)})
    postings = build_postings(docs, id_col, text_col).persist()
    try:
        stats = corpus_stats(postings)
        df_tbl = document_frequency(postings)
        matched = (
            postings.filter(F.col("term").isin(q_terms))
            .join(F.broadcast(df_tbl.filter(F.col("term").isin(q_terms))), "term")
            .crossJoin(F.broadcast(stats))
        )
        result = _bm25_score(matched, k, k1, b, score_decimals)
        rows = result.collect()  # ≤ k rows — driver-safe at any scale
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        postings.unpersist()


def tfidf_topk(
    docs: DataFrame,
    query: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_decimals: int = 6,
) -> DataFrame:
    """Length-normalized TF-IDF top-k (the BM25 sibling without
    saturation): score = Σ_t (tf/dl) · ln((N+1)/(df+1))."""
    spark = docs.sparkSession
    q_terms = sorted({t for t in _py_tokenize(query)})
    postings = build_postings(docs, id_col, text_col).persist()
    try:
        stats = corpus_stats(postings)
        df_tbl = document_frequency(postings)
        matched = (
            postings.filter(F.col("term").isin(q_terms))
            .join(F.broadcast(df_tbl.filter(F.col("term").isin(q_terms))), "term")
            .crossJoin(F.broadcast(stats))
        )
        score = (F.col("tf") / F.col("dl")) * F.log(
            (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
        )
        result = (
            matched.select("doc_id", score.alias("term_score"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), score_decimals).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = result.collect()  # ≤ k rows
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        postings.unpersist()


def tfidf_topk_sql(
    query: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    score_decimals: int = 6,
) -> str:
    """DuckDB twin of :func:`tfidf_topk`."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    terms_sql = ", ".join(f"('{t}')" for t in q_terms)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM {table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
stats AS (
  SELECT count(*) AS n_docs
  FROM (SELECT DISTINCT doc_id FROM postings)
),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
qterms(term) AS (VALUES {terms_sql})
SELECT p.doc_id,
       round(sum((p.tf::DOUBLE / p.dl) * ln((s.n_docs + 1.0) / (d.df + 1.0))),
             {score_decimals}) AS score
FROM postings p JOIN dfs d USING (term) JOIN qterms q USING (term), stats s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def more_like_this(
    docs: DataFrame,
    anchor_id: int,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_decimals: int = 6,
) -> DataFrame:
    """(doc_id, score) — documents most similar to ``anchor_id`` by
    TF-IDF COSINE in term space (the lexical complement to the
    embedding-space neighbors_of_item). Weights w = (tf/dl) ·
    ln((N+1)/(df+1)), cosine over full per-doc weight vectors.

    Scale shape: the anchor's weighted terms are ONE document's rows
    (broadcast); candidate scoring joins only postings OF THOSE TERMS
    — O(anchor terms × their posting lists), never corpus × corpus.
    Per-doc norms are one map-side-combined aggregation over the
    weighted postings (an index-time artifact in a served system)."""
    spark = docs.sparkSession
    postings = build_postings(docs, id_col, text_col)
    stats = corpus_stats(postings)
    dfs = document_frequency(postings)
    w_expr = (F.col("tf") / F.col("dl")) * F.log(
        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    )
    weighted = (
        postings.join(dfs, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", w_expr.alias("w"))
        .persist()
    )
    try:
        norms = weighted.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
        )
        anchor = weighted.filter(F.col("doc_id") == anchor_id).select(
            "term", F.col("w").alias("wa")
        )
        anorm = norms.filter(F.col("doc_id") == anchor_id).select(
            F.col("nrm").alias("anrm")
        )
        dots = (
            weighted.join(F.broadcast(anchor), "term")
            .filter(F.col("doc_id") != anchor_id)
            .groupBy("doc_id")
            .agg(F.sum(F.col("w") * F.col("wa")).alias("dot"))
        )
        result = (
            dots.join(norms, "doc_id")
            .crossJoin(F.broadcast(anorm))
            .select(
                "doc_id",
                F.round(
                    F.col("dot") / (F.col("nrm") * F.col("anrm")),
                    score_decimals,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = result.collect()  # ≤ k rows
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        weighted.unpersist()


def more_like_this_sql(
    anchor_id: int, k: int, score_decimals: int = 6
) -> str:
    """DuckDB twin of :func:`more_like_this`."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM documents
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
stats AS (SELECT count(*) AS n_docs FROM (SELECT DISTINCT doc_id FROM postings)),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
weighted AS MATERIALIZED (
  SELECT p.doc_id, p.term,
         (p.tf::DOUBLE / p.dl) * ln((s.n_docs + 1.0) / (d.df + 1.0)) AS w
  FROM postings p JOIN dfs d USING (term), stats s
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM weighted GROUP BY doc_id),
anchor AS (SELECT term, w AS wa FROM weighted WHERE doc_id = {anchor_id}),
anorm AS (SELECT nrm AS anrm FROM norms WHERE doc_id = {anchor_id}),
dots AS (
  SELECT v.doc_id, sum(v.w * a.wa) AS dot
  FROM weighted v JOIN anchor a USING (term)
  WHERE v.doc_id <> {anchor_id}
  GROUP BY v.doc_id
)
SELECT d.doc_id, round(d.dot / (n.nrm * an.anrm), {score_decimals}) AS score
FROM dots d JOIN norms n USING (doc_id), anorm an
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def like_search(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    constant_score: float = 0.6,
) -> DataFrame:
    """LIKE-fallback OR-chain with constant score (X4; reference
    sqlite_store.py:424-431)."""
    cond = None
    for t in terms:
        c = F.lower(F.col(text_col)).contains(t.lower())
        cond = c if cond is None else (cond | c)
    return docs.filter(cond).select(
        F.col(id_col).alias("doc_id"), F.lit(constant_score).alias("score")
    )


def _py_tokenize(text: str) -> list[str]:
    """Driver-side tokenizer — must match functions.text.tokenize."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


# ---------------------------------------------------------------------------
# phrase search (FTS5 "exact phrase" MATCH semantics)
# ---------------------------------------------------------------------------

def phrase_occurrences(tokens_col, phrase: list[str]):
    """Column: occurrences of the exact token sequence in a TOKEN-ARRAY
    column (pass `tokenize(text)` PROJECTED as its own column first —
    see phrase_search).

    SQLite FTS5 (the reference's keyword backend, keyword_store/
    sqlite_store.py:376-421) matches quoted phrases on token adjacency,
    not substrings — "fast table" must appear as consecutive TOKENS.
    Re-expressed as a JVM-side higher-order filter: count positions i
    where tokens[i+j] == phrase[j] for all j (element_at comparisons —
    no per-position array allocation, short-circuits on first
    mismatch). Zero shuffle; rides the corpus scan.

    The argument must be an ATTRIBUTE (a projected column), not an
    inline `tokenize(...)` expression: Spark does no common-
    subexpression elimination inside lambda bodies, so an inline
    tokenizer would re-split the whole document at EVERY position —
    O(n_tokens × tokenize) per row (measured 10× slower at sf0.1).
    Multiple outer references to the attribute also stop
    CollapseProject from inlining the tokenizer back in.
    """
    m = len(phrase)
    tk = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    starts = F.sequence(F.lit(1), F.size(tk) - m + 1)

    def _match(i):
        cond = F.element_at(tk, i) == F.lit(phrase[0])
        for j, t in enumerate(phrase[1:], start=1):
            cond = cond & (F.element_at(tk, i + j) == F.lit(t))
        return cond

    hits = F.filter(starts, _match)
    return F.when(F.size(tk) >= m, F.size(hits)).otherwise(0).cast("long")


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs by exact-phrase occurrence count (count desc, id asc).

    The single-scan variant: right for ad-hoc phrases. For repeated
    phrase workloads at corpus scale, build positional postings once
    (build_positional_postings) and use phrase_search_indexed — the
    m-way position join touches only the phrase's terms' postings.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__tk"))
    n = phrase_occurrences("__tk", phrase)
    # filter AFTER the top-k: counts order descending, so dropping zero
    # rows post-limit is set-equivalent to filtering first — and keeps
    # Catalyst from pushing the predicate below the token projection,
    # where it would re-inline the tokenizer into every element_at
    # (the no-CSE pathology phrase_occurrences documents)
    return (
        toks.select("doc_id", n.alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(k)
        .filter(F.col("n_occurrences") > 0)
    )


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, pos) positional postings — the index FTS5 keeps
    per token to answer phrase/NEAR queries. One explode + no
    aggregation; bucket/sort by term when materializing (same layout as
    build_postings_index) so a phrase query scans only its terms."""
    from memfuse_spark.catalog import ensure_parallelism

    docs = ensure_parallelism(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(tokenize(text_col))
    ).select("doc_id", F.col("col").alias("term"), (F.col("pos") + 1).alias("pos"))


def phrase_search_indexed(
    postings: DataFrame, phrase: list[str], k: int
) -> DataFrame:
    """Phrase top-k from positional postings: anchor on the first term's
    positions, then an equi-join per subsequent term on
    (doc_id, pos == anchor_pos + i) — each join shuffles only that
    term's postings (term-bucketed at scale ⇒ bucket-pruned scans,
    no corpus scan). Same output contract as phrase_search."""
    matched = postings.filter(F.col("term") == phrase[0]).select("doc_id", "pos")
    for i, t in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        matched = matched.join(nxt, ["doc_id", "pos"])
    return (
        matched.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(k)
    )


def phrase_search_sql(
    phrase: list[str],
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle twin of :func:`phrase_search` (same tokenizer, same
    adjacency semantics via 1-based list slicing)."""
    m = len(phrase)
    lits = "[" + ", ".join(f"'{t}'" for t in phrase) + "]"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tk
  FROM {table}
),
counted AS (
  SELECT doc_id,
         CAST(len(list_filter(range(1, len(tk) - {m} + 2),
                              i -> tk[i:i + {m} - 1] = {lits})) AS BIGINT)
           AS n_occurrences
  FROM toks
)
SELECT doc_id, n_occurrences FROM counted
WHERE n_occurrences > 0
ORDER BY n_occurrences DESC, doc_id ASC
LIMIT {k}
"""


def bm25_topk_sql(
    query: str,
    k: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`bm25_topk` (same math, same tokenizer)."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    terms_sql = ", ".join(f"('{t}')" for t in q_terms)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM {table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM postings GROUP BY doc_id)
),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
),
qterms(term) AS (VALUES {terms_sql}),
matched AS (
  SELECT p.doc_id, p.tf, p.dl, d.df, s.n_docs, s.avgdl
  FROM postings p JOIN dfs d USING (term) JOIN qterms q USING (term), stats s
)
SELECT doc_id,
       round(sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)
                 * tf*({k1}+1) / (tf + {k1}*(1 - {b} + {b}*dl/avgdl))),
             {score_decimals}) AS score
FROM matched
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def proximity_search(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR/k: top-k docs by the number of (pos_a, pos_b) co-occurrences
    with |pos_a - pos_b| <= window (either order) — the FTS5 NEAR
    operator over positional postings.

    Plan shape: the positional explode filters to the TWO query terms
    before any join (term-bucketed postings prune to two buckets at
    scale), then a doc-keyed equi-join with a map-side band predicate —
    per-doc position lists are small, so the band never explodes."""
    postings = build_positional_postings(docs, id_col, text_col)
    pa = postings.filter(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    pb = postings.filter(F.col("term") == term_b).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        pa.join(pb, "doc_id")
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= window)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_near"))
        .orderBy(F.desc("n_near"), F.asc("doc_id"))
        .limit(k)
    )


def proximity_search_sql(
    tokenize_sql: str, term_a: str, term_b: str, window: int, k: int
) -> str:
    """DuckDB twin of :func:`proximity_search`."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokenize_sql}) AS term,
         generate_subscripts({tokenize_sql}, 1) AS pos
  FROM documents
),
pa AS (SELECT doc_id, pos AS pos_a FROM toks WHERE term = '{term_a}'),
pb AS (SELECT doc_id, pos AS pos_b FROM toks WHERE term = '{term_b}')
SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_near
FROM pa JOIN pb ON pa.doc_id = pb.doc_id
WHERE abs(pos_a - pos_b) <= {window}
GROUP BY pa.doc_id
ORDER BY n_near DESC, pa.doc_id ASC
LIMIT {k}
"""


SPELLFIX_MAX_DIST = 2


def spellfix_topk(
    docs: DataFrame,
    query: str,
    k: int,
    max_dist: int = SPELLFIX_MAX_DIST,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """Typo-tolerant BM25 (the FTS5-spellfix shape): each query term is
    corrected to the closest corpus-vocabulary term (levenshtein <=
    max_dist; ties broken by corpus frequency DESC then term ASC —
    fully deterministic), then standard BM25 runs on the corrected
    terms. Terms with no in-budget candidate drop out, exactly like
    unknown terms in plain BM25.

    Two-job shape (the RM3 convention): job 1 scans the vocabulary
    against the (broadcast, few-row) query-term list and collects the
    per-term best corrections — query-term-count rows, not data; job 2
    is the ordinary BM25 plan. At scale the vocabulary table is tiny
    relative to the corpus and would be the prebuilt `{index}_df` side
    table; a served system would swap the scan for a FastSS variant
    index (typo_pairs' blocking) — same contract.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    q_terms = sorted({t for t in _py_tokenize(query)})
    if not q_terms:
        return bm25_topk(docs, "", k, id_col, text_col, k1, b, score_decimals)
    postings = build_postings(docs, id_col, text_col)
    vocab = postings.groupBy("term").agg(F.sum("tf").alias("freq"))
    qdf = spark.createDataFrame([(t,) for t in q_terms], "qterm string")
    cand = (
        vocab.crossJoin(F.broadcast(qdf))
        .withColumn("dist", F.levenshtein("qterm", "term"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("qterm").orderBy(
        F.asc("dist"), F.desc("freq"), F.asc("term")
    )
    corrected = sorted(
        {
            r.term
            for r in cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("term")
            .collect()
        }
    )
    return bm25_topk(
        docs, " ".join(corrected), k, id_col, text_col, k1, b, score_decimals
    )


def spellfix_topk_sql(
    query: str,
    k: int,
    max_dist: int = SPELLFIX_MAX_DIST,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> str:
    """DuckDB twin of :func:`spellfix_topk`: same vocabulary-nearest
    correction (levenshtein parity between engines is established by
    typo_pairs), same BM25."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    terms_sql = ", ".join(f"('{t}')" for t in q_terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM documents
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM postings GROUP BY doc_id)
),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
),
vocab AS (SELECT term, sum(tf) AS freq FROM postings GROUP BY term),
rawq(qterm) AS (VALUES {terms_sql}),
corr AS (
  SELECT DISTINCT term FROM (
    SELECT v.term,
           row_number() OVER (PARTITION BY q.qterm
                              ORDER BY levenshtein(q.qterm, v.term) ASC,
                                       v.freq DESC, v.term ASC) AS rn
    FROM rawq q JOIN vocab v ON levenshtein(q.qterm, v.term) <= {max_dist}
  ) WHERE rn = 1
),
matched AS (
  SELECT p.doc_id, p.tf, p.dl, d.df, s.n_docs, s.avgdl
  FROM postings p JOIN dfs d USING (term) JOIN corr q USING (term), stats s
)
SELECT doc_id,
       round(sum(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)
                 * tf*({k1}+1) / (tf + {k1}*(1 - {b} + {b}*dl/avgdl))),
             {score_decimals}) AS score
FROM matched
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback (query expansion)
# ---------------------------------------------------------------------------

RM3_FB_DOCS = 10
RM3_FB_TERMS = 10
RM3_ORIG_WEIGHT = 0.5


def rm3_topk(
    docs: DataFrame,
    query: str,
    k: int,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    orig_weight: float = RM3_ORIG_WEIGHT,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """RM3 pseudo-relevance-feedback retrieval (Lavrenko & Croft relevance
    models + Jelinek-Mercer interpolation — the classic anserini/Indri
    default the reference's keyword store lacks; its BM25 store scores the
    literal query only, `store/keyword_store/bm25_store.py:212-249`).

    Pass 1: BM25 top-``fb_docs`` for the raw query. Relevance model:
    P(t|RM1) = sum_d P(t|d) * w(d) with P(t|d) = tf/dl and w(d) the
    pass-1 score normalized over the feedback set; top-``fb_terms`` terms
    by that weight. Final term weights interpolate the uniform original
    query model with the normalized RM1 model:
    w(t) = lam * 1/|Q| * [t in Q] + (1-lam) * P(t|RM1)/sum(selected).
    Pass 2: weighted-BM25 over the union vocabulary, top-k.

    Plan shape: both passes are broadcast equi-joins against the postings
    table (at scale: the bucketed index, pruned to <= |Q|+fb_terms term
    buckets); the feedback artifacts (fb_docs rows, fb_terms+|Q| weights)
    stay tiny and broadcast — no corpus shuffle beyond the one postings
    groupBy, no driver collect of anything unbounded.
    """
    spark = docs.sparkSession
    q_terms = sorted({t for t in _py_tokenize(query)})
    lam = orig_weight
    qw = 1.0 / len(q_terms)
    postings = build_postings(docs, id_col, text_col).persist()
    try:
        stats = corpus_stats(postings)
        df_tbl = document_frequency(postings)
        qdf = spark.createDataFrame([(t,) for t in q_terms], "term string")
        matched1 = (
            postings.join(F.broadcast(qdf), "term")
            .join(F.broadcast(df_tbl), "term")
            .crossJoin(F.broadcast(stats))
        )
        pass1 = _bm25_score(matched1, fb_docs, k1, b, score_decimals)
        total = pass1.agg(F.sum("score").alias("total"))
        rm1 = (
            postings.join(F.broadcast(pass1), "doc_id")
            .crossJoin(F.broadcast(total))
            .groupBy("term")
            .agg(
                F.round(
                    F.sum(
                        (F.col("tf").cast("double") / F.col("dl"))
                        * (F.col("score") / F.col("total"))
                    ),
                    6,
                ).alias("w")
            )
        )
        top_terms = rm1.orderBy(F.desc("w"), F.asc("term")).limit(fb_terms)
        fb_sum = top_terms.agg(F.sum("w").alias("s"))
        weights = (
            qdf.withColumn("qw", F.lit(qw))
            .join(top_terms, "term", "full_outer")
            .crossJoin(F.broadcast(fb_sum))
            .select(
                "term",
                F.round(
                    lam * F.coalesce(F.col("qw"), F.lit(0.0))
                    + (1.0 - lam)
                    * F.coalesce(F.col("w") / F.col("s"), F.lit(0.0)),
                    9,
                ).alias("wt"),
            )
        )
        matched2 = (
            postings.join(F.broadcast(weights), "term")
            .join(F.broadcast(df_tbl), "term")
            .crossJoin(F.broadcast(stats))
        )
        idf = F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        tf_part = (F.col("tf") * (k1 + 1)) / (
            F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        scored = matched2.select(
            "doc_id", (F.col("wt") * idf * tf_part).alias("term_score")
        )
        result = (
            scored.groupBy("doc_id")
            .agg(F.round(F.sum("term_score"), score_decimals).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = result.collect()  # <= k rows — driver-safe at any scale
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        postings.unpersist()


def rm3_topk_sql(
    query: str,
    k: int,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    orig_weight: float = RM3_ORIG_WEIGHT,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`rm3_topk` (same math, tokenizer,
    rounding boundaries, and tie-breaks at both top-N cutoffs)."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    terms_sql = ", ".join(f"('{t}')" for t in q_terms)
    lam = orig_weight
    qw = 1.0 / len(q_terms)
    idf = "ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)"
    tfp = f"tf*({k1}+1) / (tf + {k1}*(1 - {b} + {b}*dl/avgdl))"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM {table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM postings GROUP BY doc_id)
),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
),
qterms(term) AS (VALUES {terms_sql}),
matched1 AS (
  SELECT p.doc_id, p.tf, p.dl, d.df, s.n_docs, s.avgdl
  FROM postings p JOIN dfs d USING (term) JOIN qterms q USING (term), stats s
),
pass1 AS (
  SELECT doc_id, round(sum({idf} * {tfp}), {score_decimals}) AS score
  FROM matched1 GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC LIMIT {fb_docs}
),
tot AS (SELECT sum(score) AS total FROM pass1),
rm1 AS (
  SELECT p.term,
         round(sum((CAST(p.tf AS DOUBLE)/p.dl) * (f.score/t.total)), 6) AS w
  FROM postings p JOIN pass1 f USING (doc_id), tot t
  GROUP BY p.term
),
fbterms AS (SELECT term, w FROM rm1 ORDER BY w DESC, term ASC LIMIT {fb_terms}),
fbsum AS (SELECT sum(w) AS s FROM fbterms),
weights AS (
  SELECT term,
         round({lam} * coalesce(q.qw, 0.0)
               + {1.0 - lam} * coalesce(f.w / fs.s, 0.0), 9) AS wt
  FROM (SELECT term, CAST({qw} AS DOUBLE) AS qw FROM qterms) q
  FULL OUTER JOIN fbterms f USING (term), fbsum fs
),
matched2 AS (
  SELECT p.doc_id, p.tf, p.dl, w.wt, d.df, s.n_docs, s.avgdl
  FROM postings p JOIN weights w USING (term) JOIN dfs d USING (term), stats s
)
SELECT doc_id, round(sum(wt * {idf} * {tfp}), {score_decimals}) AS score
FROM matched2 GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _sql_schema(df: DataFrame) -> list[tuple[str, str]]:
    """``df``'s columns as ``(name, sql type)`` pairs for ``values_df``."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def rm3_topk_from_index(
    spark,
    index_name: str,
    query: str,
    k: int,
    docs: DataFrame | None = None,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    orig_weight: float = RM3_ORIG_WEIGHT,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """:func:`rm3_topk` against a prebuilt index (build_postings_index) —
    no per-query corpus tokenize/shuffle. Pass 1 and pass 2 scan the
    term-bucketed postings table with static ``isin`` predicates (bucket
    pruning + parquet pushdown). The relevance model is mined from the
    <= ``fb_docs`` feedback documents themselves: with ``docs`` given,
    an id-pruned scan of the raw table re-tokenizes JUST those rows
    (identical tf/dl to the index by construction — same tokenizer);
    without it, the term-keyed index is scanned once. Two tiny mid-query
    actions (the feedback rows with their score total, the expansion
    terms with their weight sum; both sums run in Spark) keep every
    downstream subplan static — driver-safe at any corpus size. Their
    rows come back as ``values_df`` literal relations, which broadcast
    without a job. Same math and rounding boundaries as the ad-hoc path.
    """
    q_terms = sorted({t for t in _py_tokenize(query)})
    lam = orig_weight
    qw = 1.0 / len(q_terms)
    postings = spark.table(index_name)  # (term, doc_id, tf, dl, df)
    stats = _stats_literals(spark, index_name)
    whole = Window.partitionBy()  # over a top-n result: one partition, in rank order
    matched1 = postings.filter(F.col("term").isin(q_terms))
    pass1 = _bm25_score(matched1, fb_docs, k1, b, score_decimals, stats)
    # materialize the <= fb_docs feedback rows and their score total ONCE
    # and pass them back as a literal relation (no Python-RDD scan):
    # pass1 feeds the relevance model and would otherwise re-run its
    # pruned scan per use
    pass1 = pass1.withColumn("total", F.sum("score").over(whole))
    pass1_rows = pass1.collect()
    pass1 = values_df(spark, pass1_rows, _sql_schema(pass1))
    if docs is not None:
        fb_ids = [r["doc_id"] for r in pass1_rows]
        fb_postings = build_postings(
            docs.filter(F.col(id_col).isin(fb_ids)), id_col, text_col
        )
    else:
        fb_postings = postings
    rm1 = (
        fb_postings.join(F.broadcast(pass1), "doc_id")
        .groupBy("term")
        .agg(
            F.round(
                F.sum(
                    (F.col("tf").cast("double") / F.col("dl"))
                    * (F.col("score") / F.col("total"))
                ),
                6,
            ).alias("w")
        )
    )
    top_terms = rm1.orderBy(F.desc("w"), F.asc("term")).limit(fb_terms)
    top_rows = top_terms.withColumn("s", F.sum("w").over(whole)).collect()
    # the full outer join of query and expansion terms, as literal rows
    fb = {r["term"]: r for r in top_rows}
    terms2 = sorted(set(q_terms) | set(fb))
    wdf = values_df(
        spark,
        [
            (
                t,
                qw if t in q_terms else None,
                fb[t]["w"] if t in fb else None,
                top_rows[0]["s"] if top_rows else None,
            )
            for t in terms2
        ],
        [("term", "string"), ("qw", "double"), ("w", "double"), ("s", "double")],
    ).select(
        "term",
        F.round(
            lam * F.coalesce(F.col("qw"), F.lit(0.0))
            + (1.0 - lam) * F.coalesce(F.col("w") / F.col("s"), F.lit(0.0)),
            9,
        ).alias("wt"),
    )
    matched2 = postings.filter(F.col("term").isin(terms2)).join(
        F.broadcast(wdf), "term"
    )
    idf = F.log(
        (stats["n_docs"] - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / stats["avgdl"])
    )
    scored = matched2.select(
        "doc_id", (F.col("wt") * idf * tf_part).alias("term_score")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), score_decimals).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# the incremental index: an epoch store of mergeable partials
# (streaming/buffer.write_index_epoch; df and stats kept OUT of posting rows)
# ---------------------------------------------------------------------------


def _index_store(spark, out_base: str, name: str) -> DataFrame:
    """One store of the index at ``out_base``, read with its recorded
    schema (``buffer.read_epochs``)."""
    from memfuse_spark.streaming.buffer import read_epochs

    return read_epochs(spark, os.path.join(out_base, name))


def _sum_df(dfparts: DataFrame) -> DataFrame:
    """(term, df): the df partials merged by keyed sum."""
    return dfparts.groupBy("term").agg(F.sum("df").cast("long").alias("df"))


def _mean_stats(statsparts: DataFrame) -> DataFrame:
    """(n_docs, avgdl): the stats partials merged as the weighted mean."""
    return statsparts.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        (F.sum(F.col("avgdl") * F.col("n_docs")) / F.sum("n_docs")).alias("avgdl"),
    )


def _sorted_files(df: DataFrame, col: str) -> DataFrame:
    """Files range-partitioned and sorted by ``col``, so a point or
    ``isin`` predicate on it skips files by their min/max. AQE merges
    neighbouring ranges, so the file count follows the data size (a
    small store compacts to one file) instead of a fixed partition
    count that would split a small store into more files than it had."""
    return df.repartitionByRange(col).sortWithinPartitions(col)


def compact_stream_index(spark, out_base: str) -> dict:
    """Segment-merge the index at ``out_base`` (the epochs
    ``buffer.write_index_epoch`` appends): each of its three stores is
    folded by ``buffer.compact_epochs``. Postings land in files
    range-partitioned and sorted by term (:func:`_sorted_files`), so the
    query-term ``isin`` skips files by min/max; the df partials fold to
    one row per term (an exact long sum); the stats partials are carried
    unchanged, so the readers' weighted mean sees the same addends. The
    norms and FastSS stores (:func:`build_norms_index`,
    :func:`build_spellfix_index`) are exact as of their last build, as
    an append cannot rewrite a corpus-sized artifact and stay O(batch);
    compaction rebuilds the ones that exist. Returns the postings
    store's {"files_before", "files_after"}; the concurrency contract is
    ``compact_epochs``'s."""
    from memfuse_spark.streaming.buffer import compact_epochs

    def store(name: str) -> str:
        return os.path.join(out_base, name)

    report = compact_epochs(spark, store("postings"), lambda df: _sorted_files(df, "term"))
    compact_epochs(spark, store("dfparts"), _sum_df)
    compact_epochs(spark, store("statsparts"), lambda df: df.coalesce(1))
    if os.path.exists(store("norms")):
        build_norms_index(spark, out_base)
    if os.path.exists(store("delvar")):
        build_spellfix_index(spark, out_base)
    return report


def bm25_topk_from_stream_index(
    spark,
    out_base: str,
    query: str,
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """BM25 against the incremental index (streaming/buffer.
    write_index_epoch and index_ingest_stream): postings are filtered to
    the query terms (partition-pruned epoch layout), the per-epoch df
    partials merge by keyed SUM and the stats partials recombine as the
    weighted mean — the associative-merge read side of the
    mergeable-partial design. Scores equal the ad-hoc / v1-index paths
    by construction.

    The three stores are read through ``buffer.read_epochs`` with the
    schema each one recorded in its ``_schema.json``, so building the
    query starts no Spark job. The partials are a few rows per epoch, so
    each merges in one partition (``coalesce(1)`` before the aggregate)
    with no shuffle: collecting the result takes at most 4 jobs, one per
    partial broadcast and two for the postings scan with its top-k."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    postings = _index_store(spark, out_base, "postings").filter(F.col("term").isin(q_terms))
    dfs = _sum_df(
        _index_store(spark, out_base, "dfparts").filter(F.col("term").isin(q_terms)).coalesce(1)
    )
    stats = _mean_stats(_index_store(spark, out_base, "statsparts").coalesce(1))
    matched = postings.join(F.broadcast(dfs), "term").crossJoin(
        F.broadcast(stats)
    )
    return _bm25_score(matched, k, k1, b, score_decimals)


# ---------------------------------------------------------------------------
# query-likelihood language-model scoring (Dirichlet smoothing)
# ---------------------------------------------------------------------------

QL_MU = 2000.0


def ql_dirichlet_topk(
    docs: DataFrame,
    query: str,
    k: int,
    mu: float = QL_MU,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_decimals: int = 6,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty '01) — the language-modeling alternative to BM25:
    score(d) = Σ_{t∈Q} qtf(t) · ln((tf(t,d) + μ·P(t|C)) / (dl + μ))
    with P(t|C) = cf(t)/|C| the collection model. Documents that miss a
    query term still score (the smoothing term), so EVERY document gets
    a score — ranking reduces to per-doc arithmetic over the query
    terms only.

    Plan: postings build (one shuffle) → collection stats as broadcast
    aggregates → per-(doc, query-term) log term via a broadcast join
    that keeps missing terms through the collection model → top-k. At
    index scale the per-term cf comes from the df table's sibling
    aggregate and the same bucket pruning applies.
    """
    spark = docs.sparkSession
    q_counts: dict[str, int] = {}
    for t in _py_tokenize(query):
        q_counts[t] = q_counts.get(t, 0) + 1
    q_terms = sorted(q_counts)
    postings = build_postings(docs, id_col, text_col).persist()
    try:
        coll = postings.agg(
            F.sum("tf").cast("double").alias("coll_len")
        )
        cf = (
            postings.filter(F.col("term").isin(q_terms))
            .groupBy("term")
            .agg(F.sum("tf").cast("double").alias("cf"))
        )
        qdf = spark.createDataFrame(
            [(t, float(c)) for t, c in sorted(q_counts.items())],
            "term string, qtf double",
        )
        # every (doc, query term) pair — including absent terms, which
        # take tf = 0 and score through the collection model
        dls = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        grid = dls.crossJoin(
            F.broadcast(qdf.join(cf, "term").crossJoin(coll))
        )
        tfs = postings.filter(F.col("term").isin(q_terms)).select(
            "doc_id", "term", "tf"
        )
        # keyed join, NOT broadcast: a common query term's postings are
        # corpus-sized; both sides shuffle on (doc_id, term)
        matched = grid.join(tfs, ["doc_id", "term"], "left").fillna({"tf": 0})
        term_score = F.col("qtf") * F.log(
            (F.col("tf") + mu * (F.col("cf") / F.col("coll_len")))
            / (F.col("dl") + mu)
        )
        result = (
            matched.select("doc_id", term_score.alias("s"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("s"), score_decimals).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = result.collect()  # <= k rows
        return spark.createDataFrame(rows, schema=result.schema)
    finally:
        postings.unpersist()


def ql_dirichlet_topk_sql(
    query: str,
    k: int,
    mu: float = QL_MU,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    score_decimals: int = 6,
) -> str:
    """DuckDB oracle twin of :func:`ql_dirichlet_topk`."""
    q_counts: dict[str, int] = {}
    for t in _py_tokenize(query):
        q_counts[t] = q_counts.get(t, 0) + 1
    qvals = ", ".join(
        f"('{t}', CAST({float(c)} AS DOUBLE))" for t, c in sorted(q_counts.items())
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     t -> len(t) > 0) AS tokens
  FROM {table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(tokens) AS t(term)
  GROUP BY doc_id, dl, t.term
),
coll AS (SELECT CAST(sum(tf) AS DOUBLE) AS coll_len FROM postings),
qterms(term, qtf) AS (VALUES {qvals}),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf
  FROM postings JOIN qterms USING (term) GROUP BY term
),
dls AS (SELECT doc_id, any_value(dl) AS dl FROM postings GROUP BY doc_id),
grid AS (
  SELECT d.doc_id, d.dl, q.term, q.qtf, c.cf, l.coll_len
  FROM dls d, qterms q JOIN cf c USING (term), coll l
),
matched AS (
  SELECT g.*, coalesce(p.tf, 0) AS tf
  FROM grid g
  LEFT JOIN postings p ON p.doc_id = g.doc_id AND p.term = g.term
)
SELECT doc_id,
       round(sum(qtf * ln((tf + {mu} * (cf / coll_len)) / (dl + {mu}))),
             {score_decimals}) AS score
FROM matched GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_batch_topk_from_index(
    spark,
    index_name: str,
    queries: dict[int, str],
    k: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """(query_id, doc_id, score) — BM25 for a BATCH of queries in ONE
    job: a single bucket-pruned postings scan over the union of all
    query terms; each posting row fans out to the queries holding its
    term through a ``term → array<query_id>`` map literal (one parse, no
    join, no Python worker), is scored per (query, doc), and a per-query
    top-k window keeps k. N queries cost one index scan instead of N —
    the server-side throughput shape (reference touts parallel query
    handling; this is its plan form).
    """
    from pyspark.sql import Window

    from memfuse_spark.functions.lits import sql_literal

    qids: dict[str, list[int]] = {}
    for qid, q in sorted(queries.items()):
        for t in sorted(set(_py_tokenize(q))):
            qids.setdefault(t, []).append(int(qid))
    all_terms = sorted(qids)
    term_qids = F.expr(
        "CAST(map("
        + ", ".join(
            f"{sql_literal(t)}, array({', '.join(map(str, qids[t]))})" for t in all_terms
        )
        + ") AS map<string, array<int>>)"
    )
    postings = spark.table(index_name).filter(F.col("term").isin(all_terms))
    matched = postings.withColumn("query_id", F.explode(term_qids[F.col("term")]))
    scored = (
        matched.select(
            "query_id", "doc_id", _bm25_term_score(k1, b, _stats_literals(spark, index_name))
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term_score"), score_decimals).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


# ---------------------------------------------------------------------------
# served-index artifacts: per-doc norms + FastSS deletion-variant vocabulary
# ---------------------------------------------------------------------------


def build_norms_index(spark, out_base: str) -> None:
    """Write the per-doc FORWARD store ``norms`` (doc_id, nrm, terms) of
    the index at ``out_base``: the TF-IDF norm plus the document's
    sorted distinct term list — the artifacts
    :func:`more_like_this_from_index` reads instead of re-aggregating
    (norm) or corpus-scanning (anchor term lookup) per query.

    w = (tf/dl) · ln((N+1)/(df+1)); nrm = sqrt(Σ_t w²) per document.

    The store is one base epoch (``buffer.write_epoch``; a rebuild
    replaces it), range-partitioned and sorted by doc_id, so the
    anchor's forward row is a point lookup that skips files by min/max
    (the postings are sorted by term — a doc_id filter there cannot
    skip). Norms depend on corpus-global df/N, so they are EXACT as of
    the last build/compaction: an appended epoch leaves them stale (the
    standard IR-index convention — a batch append cannot rewrite a
    corpus-sized artifact and stay O(batch)); :func:`compact_stream_index`
    rebuilds them, asserted by the lifecycle test."""
    from memfuse_spark.streaming.buffer import _BASE_EPOCH, write_epoch

    dfs = _sum_df(_index_store(spark, out_base, "dfparts"))
    stats = _mean_stats(_index_store(spark, out_base, "statsparts"))
    w = (F.col("tf") / F.col("dl")) * F.log(
        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    )
    norms = (
        _index_store(spark, out_base, "postings")
        .join(dfs, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sqrt(F.sum(w * w)).alias("nrm"),
            F.array_sort(F.collect_list("term")).alias("terms"),
        )
    )
    write_epoch(_sorted_files(norms, "doc_id"), os.path.join(out_base, "norms"), _BASE_EPOCH)


def more_like_this_from_index(
    spark,
    out_base: str,
    anchor_id: int,
    k: int,
    score_decimals: int = 6,
) -> DataFrame:
    """:func:`more_like_this` against the index at ``out_base`` with its
    ``norms`` store (build_norms_index) — the served shape: per-doc
    norms are a SCAN, not a per-query re-aggregation of the whole
    corpus, and candidate postings are pruned to the anchor's terms.

    Plan: (1) point-lookup the anchor's term list and (2) collect the
    merged df of those terms with N (each ≤ one document's terms on the
    driver — the same bounded shape as RM3); (3) one isin-pruned
    postings scan over those terms, broadcast df rows, JVM-side weights;
    (4) dot products grouped by doc_id; (5) join the STORED norms. Per-
    query cost is O(anchor terms × their posting lists), with the only
    corpus-sized aggregation paid at index time. An anchor missing from
    the store yields no rows."""
    result = more_like_this_plan(spark, out_base, anchor_id, k, score_decimals)
    rows = result.collect()  # ≤ k rows
    return spark.createDataFrame(rows, schema=result.schema)


def more_like_this_plan(
    spark,
    out_base: str,
    anchor_id: int,
    k: int,
    score_decimals: int = 6,
) -> DataFrame:
    """The LAZY plan behind :func:`more_like_this_from_index` (exposed
    so the plan-shape test can assert the norms subtree is a file scan,
    not a re-aggregation). The anchor's terms and their df rows are
    collected while it is built."""
    postings = _index_store(spark, out_base, "postings")
    fwd = _index_store(spark, out_base, "norms").select("doc_id", "nrm", "terms")
    norms = fwd.select("doc_id", "nrm")
    anchor_terms = fwd.filter(F.col("doc_id") == anchor_id).select("terms").collect()
    terms = sorted(anchor_terms[0].terms) if anchor_terms else []
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    # the merged df of the anchor's terms with N, as a local relation:
    # the per-query plan aggregates only the dot products
    dfs = spark.createDataFrame(
        _sum_df(
            _index_store(spark, out_base, "dfparts").filter(F.col("term").isin(terms)).coalesce(1)
        )
        .crossJoin(_mean_stats(_index_store(spark, out_base, "statsparts").coalesce(1)))
        .select("term", "df", "n_docs")
        .collect(),
        "term string, df long, n_docs long",
    )
    w_expr = (F.col("tf") / F.col("dl")) * F.log(
        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
    )
    cand = postings.filter(F.col("term").isin(terms)).join(F.broadcast(dfs), "term")
    anchor = cand.filter(F.col("doc_id") == anchor_id).select(
        "term", w_expr.alias("wa")
    )
    dots = (
        cand.filter(F.col("doc_id") != anchor_id)
        .select("doc_id", "term", w_expr.alias("w"))
        .join(F.broadcast(anchor), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("wa")).alias("dot"))
    )
    anorm = norms.filter(F.col("doc_id") == anchor_id).select(
        F.col("nrm").alias("anrm")
    )
    result = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(anorm))
        .select(
            "doc_id",
            F.round(
                F.col("dot") / (F.col("nrm") * F.col("anrm")), score_decimals
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return result


def _deletion_variants(tok: str) -> list[str]:
    """U2(tok) = {tok} ∪ del1(tok) ∪ del2(tok) — driver-side twin of
    the index-side FastSS variant generator (few query terms only)."""
    out = {tok}
    n = len(tok)
    for i in range(n):
        out.add(tok[:i] + tok[i + 1:])
    for i in range(n - 1):
        for j in range(i + 1, n):
            out.add(tok[:i] + tok[i + 1:j] + tok[j + 1:])
    return sorted(out)


def build_spellfix_index(spark, out_base: str) -> None:
    """Write the FastSS (Bocek et al. '07) deletion-variant vocabulary
    store ``delvar`` (variant, term, freq) of the index at ``out_base``
    — the served replacement for spellfix_topk's per-query
    full-vocabulary levenshtein scan. Same k=2 blocking as
    textanalysis.typo_pairs: dist(a,b) ≤ 2 ⟹ U2(a) ∩ U2(b) ≠ ∅, so a
    query-time EQUI-join on the variant key yields a candidate superset
    verified with levenshtein on candidate-count rows only.

    Full vocabulary (no length/frequency floor — correction must reach
    every term spellfix_topk can reach); fan-out is O(len²) variants
    per term, constant per token. freq (corpus tf sum, the tie-break
    key) is denormalized onto the variant rows; like the norms store it
    is one base epoch, exact as of the last build/compaction."""
    from memfuse_spark.streaming.buffer import _BASE_EPOCH, write_epoch

    vocab = (
        _index_store(spark, out_base, "postings")
        .groupBy("term")
        .agg(F.sum("tf").alias("freq"))
    )
    del1 = (
        "transform(sequence(1, length(term)), "
        "i -> concat(substring(term, 1, i - 1), "
        "substring(term, i + 1, length(term))))"
    )
    # guard: sequence() DESCENDS when start > stop, so the del2 outer
    # sequence over 1..len-1 must not run for single-char terms
    del2 = (
        "if(length(term) >= 2, "
        "flatten(transform(sequence(1, length(term) - 1), "
        "i -> transform(sequence(i + 1, length(term)), "
        "j -> concat(substring(term, 1, i - 1), "
        "substring(term, i + 1, j - i - 1), "
        "substring(term, j + 1, length(term)))))), "
        "array())"
    )
    delvar = vocab.select(
        "term",
        "freq",
        F.explode(
            F.array_union(
                F.array(F.col("term")),
                F.array_union(F.expr(del1), F.expr(del2)),
            )
        ).alias("variant"),
    )
    write_epoch(delvar, os.path.join(out_base, "delvar"), _BASE_EPOCH)


def spellfix_topk_from_index(
    spark,
    out_base: str,
    query: str,
    k: int,
    max_dist: int = SPELLFIX_MAX_DIST,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
) -> DataFrame:
    """:func:`spellfix_topk` against the index at ``out_base`` with its
    ``delvar`` FastSS store (build_spellfix_index) —
    the served shape the ad-hoc docstring promises: correction
    candidates come from an index EQUI-join on the deletion-variant
    key (the query's U2 set, a few dozen broadcast rows), never a
    full-vocabulary levenshtein scan; then BM25 serves from the same
    index. Output is identical to spellfix_topk by the FastSS
    completeness bound (requires max_dist ≤ 2, asserted)."""
    from pyspark.sql import Window

    if max_dist > 2:
        raise ValueError(
            f"FastSS k=2 index only covers edit distance <= 2, got {max_dist}"
        )
    q_terms = sorted({t for t in _py_tokenize(query)})
    if not q_terms:
        return bm25_topk_from_stream_index(spark, out_base, "", k, k1, b, score_decimals)
    qvar = [(t, v) for t in q_terms for v in _deletion_variants(t)]
    qdf = spark.createDataFrame(qvar, "qterm string, variant string")
    cand = (
        _index_store(spark, out_base, "delvar")
        .join(F.broadcast(qdf), "variant")
        .select("qterm", "term", "freq")
        .distinct()
        .withColumn("dist", F.levenshtein("qterm", "term"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("qterm").orderBy(
        F.asc("dist"), F.desc("freq"), F.asc("term")
    )
    corrected = sorted(
        {
            r.term
            for r in cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("term")
            .collect()  # ≤ |query terms| rows
        }
    )
    return bm25_topk_from_stream_index(
        spark, out_base, " ".join(corrected), k, k1, b, score_decimals
    )
