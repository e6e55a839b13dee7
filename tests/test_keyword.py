"""BM25 / keyword path vs a pure-Python reference implementation
(mirrors memfuse store/keyword_store/bm25_store.py semantics)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from memfuse_spark.operators.keyword import (
    bm25_topk,
    build_postings,
    corpus_stats,
    document_frequency,
    like_search,
)

DOCS = [
    (0, "spark table scan is fast"),
    (1, "slow table scan and merge join"),
    (2, "the query planner picks a hash join"),
    (3, "spark spark spark"),
    (4, "unrelated words entirely"),
]


def _py_bm25(docs, query, k1=1.5, b=0.75):
    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    toks = {i: tok(t) for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores = {}
    for term in set(tok(query)):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
        for i, v in toks.items():
            tf = Counter(v)[term]
            if tf == 0:
                continue
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
            scores[i] = scores.get(i, 0.0) + s
    return scores


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_postings_and_stats(docs_df):
    postings = build_postings(docs_df)
    row = postings.filter("doc_id = 3 and term = 'spark'").first()
    assert row.tf == 3 and row.dl == 3
    stats = corpus_stats(postings).first()
    assert stats.n_docs == 5
    assert stats.avgdl == pytest.approx(sum(len(t[1].split()) for t in DOCS) / 5)
    dfs = {r.term: r.df for r in document_frequency(postings).collect()}
    assert dfs["spark"] == 2 and dfs["table"] == 2


def test_bm25_matches_python_reference(docs_df):
    expected = _py_bm25(DOCS, "spark table join")
    got = {r.doc_id: r.score for r in bm25_topk(docs_df, "spark table join", 10).collect()}
    assert set(got) == set(expected)
    for i, s in expected.items():
        assert got[i] == pytest.approx(s, abs=1e-6)


def test_like_search_constant_score(docs_df):
    got = like_search(docs_df, ["spark", "merge"]).collect()
    assert {r.doc_id for r in got} == {0, 1, 3}
    assert all(r.score == pytest.approx(0.6) for r in got)


def test_postings_index_matches_adhoc(spark, tmp_path):
    from memfuse_spark.operators.keyword import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data between stages"),
            (1, "a table scan reads parquet row groups"),
            (2, "the query planner reorders joins"),
            (3, "spark query execution uses whole stage codegen"),
            (4, "scan scan scan"),
        ],
        "doc_id bigint, text string",
    )
    build_postings_index(spark, docs, "t_idx", path=str(tmp_path / "wh"))
    adhoc = {(r.doc_id, r.score) for r in bm25_topk(docs, "spark query scan", 5).collect()}
    via_idx = {
        (r.doc_id, r.score)
        for r in bm25_topk_from_index(spark, "t_idx", "spark query scan", 5).collect()
    }
    assert adhoc == via_idx and len(adhoc) > 0

    # the query side scans the postings table with bucket pruning,
    # never the documents table. With the stats as literals no join sits
    # between the scan and the doc_id shuffle, so autoBucketedScan plans
    # a plain scan (one task, not one per bucket) that still reads only
    # the selected buckets' files but prints no bucket count; pin it off
    # for the assertion, as in test_warehouse.py
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = bm25_topk_from_index(spark, "t_idx", "spark query scan", 5)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    assert "t_idx" in plan
    assert "SelectedBucketsCount" in plan
    assert "documents" not in plan


def test_index_stats_are_literals_recorded_at_build(spark, tmp_path):
    """BM25 on a prebuilt index reads (n_docs, avgdl) as plan literals
    recorded by the LAST build of that name: after a rebuild over
    another corpus it scores that corpus with the ad-hoc path's exact
    floats, and its plan reads no ``{name}_stats`` file."""
    from memfuse_spark.operators.keyword import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings,
        build_postings_index,
        corpus_stats,
        index_stats,
    )

    corpus_a = spark.createDataFrame(
        [(0, "spark scan"), (1, "spark spark query")], "doc_id bigint, text string"
    )
    # 3 docs, 10 tokens: avgdl 10/3 has no exact binary form
    corpus_b = spark.createDataFrame(
        [
            (0, "spark query scan"),
            (1, "a table scan reads row groups"),
            (7, "scan"),
        ],
        "doc_id bigint, text string",
    )
    name = "stats_literal_idx"
    build_postings_index(spark, corpus_a, name, path=str(tmp_path))
    build_postings_index(spark, corpus_b, name, path=str(tmp_path))
    assert index_stats(spark, name) == tuple(corpus_stats(build_postings(corpus_b)).first())
    assert index_stats(spark, name) == (3, 10 / 3)

    # 30 decimals: Spark's round leaves every double as it is
    query = "spark scan query"
    via_idx = bm25_topk_from_index(spark, name, query, 5, score_decimals=30)
    adhoc = bm25_topk(corpus_b, query, 5, score_decimals=30)
    assert [tuple(r) for r in via_idx.collect()] == [tuple(r) for r in adhoc.collect()]
    files = via_idx.inputFiles()
    assert files and not [f for f in files if f"{name}_stats" in f]

    none = bm25_topk_from_index(spark, name, "zebra", 5)
    assert none.collect() == []
    assert none.schema.simpleString() == "struct<doc_id:bigint,score:double>"


def test_batch_bm25_fans_out_queries_without_a_python_scan(spark, tmp_path):
    """The batch BM25 maps each posting to the queries holding its term
    through a plan literal: its executed plan scans no Python RDD, and
    every query's rows equal the single-query ad-hoc BM25 exactly, also
    for terms shared by several queries and for a query that matches
    nothing."""
    from memfuse_spark.operators.keyword import (
        bm25_batch_topk_from_index,
        build_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data between stages"),
            (1, "a table scan reads parquet row groups"),
            (2, "the query planner reorders joins"),
            (3, "spark query execution uses whole stage codegen"),
            (4, "scan scan scan"),
        ],
        "doc_id bigint, text string",
    )
    build_postings_index(spark, docs, "batch_idx", path=str(tmp_path))
    queries = {0: "spark query scan", 1: "table scan", 2: "zebra", 5: "Spark's stage"}
    batch = bm25_batch_topk_from_index(spark, "batch_idx", queries, 3, score_decimals=30)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "batch_idx" in plan
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, set()).add((r.doc_id, r.score))
    want = {
        qid: {tuple(r) for r in bm25_topk(docs, text, 3, score_decimals=30).collect()}
        for qid, text in queries.items()
    }
    assert got == {qid: rows for qid, rows in want.items() if rows}
    assert set(got) == {0, 1, 5} and len(got[0]) == 3
    assert batch.schema.simpleString() == "struct<query_id:int,doc_id:bigint,score:double>"
    assert bm25_batch_topk_from_index(spark, "batch_idx", {}, 3).collect() == []


def test_adhoc_bm25_leaves_no_cached_rdds(spark):
    from memfuse_spark import cache
    from memfuse_spark.operators.keyword import bm25_topk, tfidf_topk

    cache.release_all()  # clear other modules' scoped generations

    docs = spark.createDataFrame(
        [(i, f"doc number {i} about spark") for i in range(10)],
        "doc_id bigint, text string",
    )
    bm25_topk(docs, "spark doc", 3).collect()
    tfidf_topk(docs, "spark doc", 3).collect()
    cached = spark.sparkContext._jsc.getPersistentRDDs()
    assert cached.size() == 0


# ---------------------------------------------------------------------------
# phrase search
# ---------------------------------------------------------------------------

PHRASE_DOCS = [
    (0, "fast table scan beats slow table scan"),
    (1, "the table is fast table fast table"),
    (2, "fast, table!  punctuation splits but adjacency holds"),
    (3, "table fast is reversed"),
    (4, "fast"),
    (5, ""),
]


def _py_phrase_count(text, phrase):
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    m = len(phrase)
    return sum(1 for i in range(len(toks) - m + 1) if toks[i : i + m] == phrase)


def test_phrase_search_matches_python_reference(spark):
    from memfuse_spark.operators.keyword import phrase_search

    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(docs, ["fast", "table"], 10).collect()
    }
    want = {
        i: _py_phrase_count(t, ["fast", "table"]) for i, t in PHRASE_DOCS
    }
    want = {i: c for i, c in want.items() if c > 0}
    assert got == want  # doc 3 (reversed) and 4/5 (too short) excluded


def test_phrase_search_indexed_parity(spark):
    from memfuse_spark.operators.keyword import (
        build_positional_postings,
        phrase_search,
        phrase_search_indexed,
    )

    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    postings = build_positional_postings(docs)
    for phrase in (["fast", "table"], ["table", "scan"], ["fast"]):
        a = sorted(map(tuple, phrase_search(docs, phrase, 10).collect()))
        b = sorted(map(tuple, phrase_search_indexed(postings, phrase, 10).collect()))
        assert a == b, phrase


def test_phrase_search_plan_has_no_shuffle(spark):
    # single-scan variant: phrase counting must ride the corpus scan —
    # no exchange anywhere below the final top-k.
    from memfuse_spark.operators.keyword import phrase_search

    docs = spark.createDataFrame(PHRASE_DOCS, ["doc_id", "text"])
    plan = phrase_search(docs, ["fast", "table"], 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback
# ---------------------------------------------------------------------------

def test_rm3_expansion_recalls_doc_without_query_terms(spark):
    """A doc sharing no literal query term must surface via expansion
    terms mined from the feedback docs."""
    from memfuse_spark.operators.keyword import rm3_topk

    docs = [
        (0, "spark query engine runs query plan"),
        (1, "query engine shuffle and partition exchange"),
        (2, "shuffle partition exchange tuning notes"),  # no query term
        (3, "cooking pasta with tomato sauce"),
        (4, "gardening in spring rain"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = rm3_topk(df, "spark query", k=5, fb_docs=2, fb_terms=10)
    rows = {r.doc_id: r.score for r in got.collect()}
    # doc 2 has zero original-query terms yet scores > 0 via expansion
    assert 2 in rows and rows[2] > 0
    # off-topic docs stay out
    assert 3 not in rows and 4 not in rows
    # pass-1 top doc still ranks first
    top = got.first()
    assert top.doc_id in (0, 1)


def test_rm3_reduces_to_weighted_bm25_when_lambda_1(spark):
    """orig_weight=1 zeroes the feedback model: ranking must equal plain
    BM25 ranking (scores scale by 1/|Q| per term weight)."""
    from memfuse_spark.operators.keyword import bm25_topk, rm3_topk

    docs = [
        (0, "spark table scan"),
        (1, "table scan of the big table"),
        (2, "spark spark spark"),
        (3, "unrelated words entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    plain = [r.doc_id for r in bm25_topk(df, "spark table", 4).collect()]
    rm3 = [
        r.doc_id
        for r in rm3_topk(df, "spark table", 4, orig_weight=1.0).collect()
    ]
    assert rm3 == plain


def test_rm3_index_path_matches_adhoc(spark, tmp_path):
    from memfuse_spark.operators.keyword import (
        build_postings_index,
        rm3_topk,
        rm3_topk_from_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark query engine runs query plan"),
            (1, "query engine shuffle and partition exchange"),
            (2, "shuffle partition exchange tuning notes"),
            (3, "cooking pasta with tomato sauce"),
            (4, "spark plan exchange notes"),
        ],
        "doc_id bigint, text string",
    )
    name = "rm3_parity_idx"
    build_postings_index(spark, docs, name, path=str(tmp_path))
    try:
        adhoc = [
            (r.doc_id, r.score)
            for r in rm3_topk(docs, "spark query", 5).collect()
        ]
        indexed = [
            (r.doc_id, r.score)
            for r in rm3_topk_from_index(
                spark, name, "spark query", 5, docs=docs
            ).collect()
        ]
        assert indexed == adhoc
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_stats")


def test_rm3_index_path_job_budget(spark, tmp_path):
    """The indexed RM3 collects its feedback rows (with their score
    total) and its expansion terms (with their weight sum) in Spark and
    passes them back as literal relations: one query runs at most 7
    jobs (9 with ``docs``), its plan scans no Python RDD, and its rows
    equal the ad-hoc RM3's, also for a query with no vocabulary term."""
    import random

    from memfuse_spark.operators.keyword import (
        build_postings_index,
        rm3_topk,
        rm3_topk_from_index,
    )

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 40)))) for i in range(120)],
        "doc_id bigint, text string",
    )
    name = "rm3_budget_idx"
    build_postings_index(spark, docs, name, path=str(tmp_path), num_buckets=16)
    sc = spark.sparkContext
    try:
        cases = (
            ("w3 w7 w11", False, 7),
            ("w3 w7 w11", True, 9),
            ("zebra w5", False, 7),
            ("zebra", False, 7),
        )
        for i, (query, with_docs, budget) in enumerate(cases):
            group = f"rm3-budget-{i}"
            sc.setJobGroup(group, group)
            try:
                df = rm3_topk_from_index(spark, name, query, 10, docs=docs if with_docs else None)
                rows = [(r.doc_id, r.score) for r in df.collect()]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= budget, query
            assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
            assert rows == [(r.doc_id, r.score) for r in rm3_topk(docs, query, 10).collect()]
            assert bool(rows) == (query != "zebra")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_stats")


def _merged_index(spark, out_base):
    """The incremental index at ``out_base`` as a reader sees it, one
    entry per merged partial: postings rows, df summed per term, and
    the weighted-mean (n_docs, avgdl)."""
    from memfuse_spark.operators.keyword import _mean_stats, _sum_df
    from memfuse_spark.streaming.buffer import read_epochs

    def store(name):
        return read_epochs(spark, f"{out_base}/{name}")

    return {
        "postings": sorted(map(tuple, store("postings").drop("epoch_id").collect())),
        "df": sorted(map(tuple, _sum_df(store("dfparts")).collect())),
        "stats": sorted(map(tuple, _mean_stats(store("statsparts")).collect())),
    }


def test_index_epoch_append_matches_rebuild(spark, tmp_path):
    """Appending a batch to the incremental index as its next epoch must
    equal a full rebuild over the union corpus, per merged partial —
    postings appended, df keyed-add, stats weighted — and query results
    must match the ad-hoc BM25 on the union."""
    from memfuse_spark.operators.keyword import bm25_topk, bm25_topk_from_stream_index
    from memfuse_spark.streaming.buffer import write_index_epoch

    base = spark.createDataFrame(
        [
            (0, "spark shuffles data between stages"),
            (1, "a table scan reads parquet row groups"),
            (2, "the query planner reorders joins"),
        ],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [
            (3, "spark query execution uses codegen"),
            (4, "scan scan scan"),
        ],
        "doc_id bigint, text string",
    )
    inc, reb = str(tmp_path / "a"), str(tmp_path / "b")
    write_index_epoch(base, inc, 0)
    write_index_epoch(delta, inc, 1)
    write_index_epoch(base.unionByName(delta), reb, 0)
    a, b = _merged_index(spark, inc), _merged_index(spark, reb)
    for side in ("postings", "df", "stats"):
        assert a[side] == b[side], side

    q = "spark query scan"
    via_idx = [
        (r.doc_id, r.score)
        for r in bm25_topk_from_stream_index(spark, inc, q, 5).collect()
    ]
    adhoc = [
        (r.doc_id, r.score)
        for r in bm25_topk(base.unionByName(delta), q, 5).collect()
    ]
    assert via_idx == adhoc


def test_index_compaction_merges_segments_and_preserves_results(spark, tmp_path):
    """Compaction must (a) shrink the postings segment count, (b) leave
    every merged partial equal in content to a fresh rebuild, the df
    partials folded to the rebuild's one row per term, and (c) leave
    query results unchanged; a query with no vocabulary term still
    returns no rows."""
    import os

    from memfuse_spark.operators.keyword import (
        bm25_topk_from_stream_index,
        compact_stream_index,
    )
    from memfuse_spark.streaming.buffer import read_epochs, write_index_epoch

    batches = [
        [(0, "spark shuffles data between stages"),
         (1, "a table scan reads parquet row groups")],
        [(2, "the query planner reorders joins"),
         (3, "spark query execution uses codegen")],
        [(4, "scan scan scan")],
        [(5, "broadcast joins skip the shuffle")],
    ]
    dfs = [
        spark.createDataFrame(rows, "doc_id bigint, text string")
        for rows in batches
    ]
    out, reb = str(tmp_path / "a"), str(tmp_path / "b")
    for epoch, d in enumerate(dfs):
        write_index_epoch(d, out, epoch)
    before_q = sorted(
        map(tuple, bm25_topk_from_stream_index(spark, out, "spark query scan", 5).collect())
    )
    report = compact_stream_index(spark, out)
    assert report["files_after"] < report["files_before"]
    assert report["files_after"] <= 16

    union = dfs[0]
    for d in dfs[1:]:
        union = union.unionByName(d)
    write_index_epoch(union, reb, 0)
    a, b = _merged_index(spark, out), _merged_index(spark, reb)
    for side in ("postings", "df", "stats"):
        assert a[side] == b[side], side

    def raw_dfparts(path):
        return sorted(map(tuple, read_epochs(spark, f"{path}/dfparts").drop("epoch_id").collect()))

    assert raw_dfparts(out) == raw_dfparts(reb)
    after_q = sorted(
        map(tuple, bm25_topk_from_stream_index(spark, out, "spark query scan", 5).collect())
    )
    assert before_q == after_q
    assert bm25_topk_from_stream_index(spark, out, "zzz unknown", 5).count() == 0

    # SECOND compaction after another epoch: each store is swapped in
    # place, no shadow (__tmp_) or superseded (__old_) directory is left
    # behind, and queries still serve
    write_index_epoch(
        spark.createDataFrame(
            [(6, "another spark scan batch")], "doc_id bigint, text string"
        ),
        out,
        len(dfs),
    )
    compact_stream_index(spark, out)
    assert sorted(os.listdir(out)) == ["dfparts", "postings", "statsparts"]
    assert bm25_topk_from_stream_index(spark, out, "spark query scan", 5).count() > 0


def test_ql_dirichlet_matches_python_reference(spark):
    from memfuse_spark.operators.keyword import ql_dirichlet_topk

    docs_rows = DOCS
    mu = 10.0
    got = {
        r.doc_id: r.score
        for r in ql_dirichlet_topk(
            spark.createDataFrame(docs_rows, "doc_id bigint, text string"),
            "spark table join",
            10,
            mu=mu,
        ).collect()
    }
    # pure-python reference
    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    toks = {i: tok(t) for i, t in docs_rows}
    coll_len = sum(len(v) for v in toks.values())
    cf = {}
    for v in toks.values():
        for t in v:
            cf[t] = cf.get(t, 0) + 1
    q = tok("spark table join")
    want = {}
    for i, v in toks.items():
        s = 0.0
        for t in q:
            if cf.get(t, 0) == 0:
                continue  # absent from the collection entirely
            tf = Counter(v)[t]
            s += math.log((tf + mu * (cf[t] / coll_len)) / (len(v) + mu))
        want[i] = s
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-6)
    # a doc with ZERO query terms still gets a (low) score
    assert 4 in got


def test_spellfix_corrects_to_plain_bm25(spark):
    """A 1-edit-typo query must produce exactly the clean query's BM25
    ranking; an un-correctable garbage term must drop out rather than
    poison scores."""
    from memfuse_spark.operators.keyword import bm25_topk, spellfix_topk

    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    clean = [tuple(r) for r in bm25_topk(docs, "spark table join", 10).collect()]
    fixed = [
        tuple(r)
        for r in spellfix_topk(docs, "spork tabel joyn", 10, max_dist=2).collect()
    ]
    assert fixed == clean
    with_junk = [
        tuple(r)
        for r in spellfix_topk(
            docs, "spork tabel joyn zzzzzzzzzz", 10, max_dist=2
        ).collect()
    ]
    assert with_junk == clean


def test_more_like_this_prefers_term_overlap(spark):
    """The doc sharing the anchor's rare terms must outrank docs with
    only common-term overlap; the anchor itself is excluded."""
    from memfuse_spark.operators.keyword import more_like_this

    docs = spark.createDataFrame(
        [
            (0, "quantum flux capacitor drives the machine"),
            (1, "quantum flux capacitor in a different machine"),
            (2, "the machine is loud"),
            (3, "gardening tips for spring"),
        ],
        "doc_id bigint, text string",
    )
    got = more_like_this(docs, 0, 10).collect()
    ids = [r.doc_id for r in got]
    assert 0 not in ids
    assert ids[0] == 1                      # rare-term overlap wins
    assert 3 not in ids                     # zero shared terms absent
    assert all(0.0 < r.score <= 1.0 + 1e-9 for r in got)


def test_more_like_this_index_matches_adhoc(spark, tmp_path):
    """Index-served MLT (stored norms) must equal the ad-hoc per-query
    recompute — the 'hash unchanged' contract of the served rewrite.
    An anchor missing from the index yields no rows, typed as a hit."""
    from memfuse_spark.operators.keyword import (
        build_norms_index,
        more_like_this,
        more_like_this_from_index,
    )
    from memfuse_spark.streaming.buffer import write_index_epoch

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data between stages"),
            (1, "a table scan reads parquet row groups"),
            (2, "the query planner reorders joins"),
            (3, "spark query execution uses whole stage codegen"),
            (4, "spark shuffles and spark scans tables"),
            (5, "row groups and stages and joins"),
        ],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "t_mlt")
    write_index_epoch(docs, idx, 0)
    build_norms_index(spark, idx)
    adhoc = [(r.doc_id, r.score) for r in more_like_this(docs, 0, 5).collect()]
    served = [
        (r.doc_id, r.score)
        for r in more_like_this_from_index(spark, idx, 0, 5).collect()
    ]
    assert adhoc == served and len(adhoc) > 0
    missing = more_like_this_from_index(spark, idx, 99, 5)
    assert missing.count() == 0
    assert missing.schema.simpleString() == "struct<doc_id:bigint,score:double>"


def test_more_like_this_index_plan_norms_are_a_scan(spark, tmp_path):
    """The norms subtree must be a FileScan of the norms store — ONE
    aggregation in the whole plan (the dot products), no per-query
    re-derivation of corpus-sized norms (which would add a second
    corpus-wide HashAggregate)."""
    from memfuse_spark.operators.keyword import (
        build_norms_index,
        more_like_this_plan,
    )
    from memfuse_spark.streaming.buffer import write_index_epoch

    docs = spark.createDataFrame(
        [(i, f"term{i % 3} shared word spark scan row{i}") for i in range(8)],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "t_mltp")
    write_index_epoch(docs, idx, 0)
    build_norms_index(spark, idx)
    df = more_like_this_plan(spark, idx, 0, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the plan string abbreviates long locations, so the scanned norms
    # store is asserted on the plan's input files
    assert any(f"{idx}/norms/" in f for f in df.inputFiles())
    # the dots aggregation is the ONLY aggregate: partial+final = 2
    # HashAggregate nodes; a norms recompute would add 2 more
    assert plan.count("HashAggregate") <= 2
    assert "documents" not in plan


def test_spellfix_index_matches_adhoc(spark, tmp_path):
    """FastSS-indexed spellfix must equal the full-vocabulary-scan
    spellfix (k=2 deletion-neighborhood completeness)."""
    from memfuse_spark.operators.keyword import (
        build_spellfix_index,
        spellfix_topk,
        spellfix_topk_from_index,
    )
    from memfuse_spark.streaming.buffer import write_index_epoch

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data between stages"),
            (1, "a table scan reads parquet row groups"),
            (2, "the query planner reorders joins"),
            (3, "spark query execution uses whole stage codegen"),
            (4, "scan scan scan query q"),
        ],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "t_sfx")
    write_index_epoch(docs, idx, 0)
    build_spellfix_index(spark, idx)
    typo_q = "sparc tabel scann queyr z"
    adhoc = [(r.doc_id, r.score) for r in spellfix_topk(docs, typo_q, 5).collect()]
    served = [
        (r.doc_id, r.score)
        for r in spellfix_topk_from_index(spark, idx, typo_q, 5).collect()
    ]
    assert adhoc == served and len(adhoc) > 0
    # single-char vocab terms must not break the del2 variant guard
    # and must remain reachable (dist("z","q")=1 via the "" variant)


def test_spellfix_index_rejects_out_of_bound_distance(spark, tmp_path):
    import pytest as _pytest

    from memfuse_spark.operators.keyword import spellfix_topk_from_index

    with _pytest.raises(ValueError):
        spellfix_topk_from_index(spark, "whatever", "q", 5, max_dist=3)


def test_compaction_refreshes_norms_and_delvar(spark, tmp_path):
    """norms/delvar are exact-as-of-last-compaction artifacts: an
    appended epoch leaves them stale (O(batch) contract), and
    compact_stream_index rebuilds BOTH to match a from-scratch build
    over the full corpus."""
    from memfuse_spark.operators.keyword import (
        build_norms_index,
        build_spellfix_index,
        compact_stream_index,
    )
    from memfuse_spark.streaming.buffer import read_epochs, write_index_epoch

    base = spark.createDataFrame(
        [(0, "spark table scan"), (1, "query planner joins")],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [(2, "spark spark codegen"), (3, "zephyr token appears")],
        "doc_id bigint, text string",
    )
    cmp_idx, ref_idx = str(tmp_path / "t_cmp"), str(tmp_path / "t_ref")
    write_index_epoch(base, cmp_idx, 0)
    build_norms_index(spark, cmp_idx)
    build_spellfix_index(spark, cmp_idx)
    write_index_epoch(delta, cmp_idx, 1)
    compact_stream_index(spark, cmp_idx)

    # reference: build from the full corpus in a fresh index
    full = base.unionByName(delta)
    write_index_epoch(full, ref_idx, 0)
    build_norms_index(spark, ref_idx)
    build_spellfix_index(spark, ref_idx)

    def rows(idx, store):
        return read_epochs(spark, f"{idx}/{store}").collect()

    got_norms = {(r.doc_id, round(r.nrm, 9)) for r in rows(cmp_idx, "norms")}
    want_norms = {(r.doc_id, round(r.nrm, 9)) for r in rows(ref_idx, "norms")}
    assert got_norms == want_norms and len(got_norms) == 4

    got_var = {(r.variant, r.term, r.freq) for r in rows(cmp_idx, "delvar")}
    want_var = {(r.variant, r.term, r.freq) for r in rows(ref_idx, "delvar")}
    assert got_var == want_var
    # the post-compaction variants must include the delta-only term
    assert any(t == "zephyr" for _, t, _ in got_var)
