"""Tests for probabilistic sketches (HLL, CMS), robust stats, CDC
chunking, prefix-filter similarity join, and the LRU query-result cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    from memfuse_spark.catalog import load_table

    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def events(spark):
    from memfuse_spark.catalog import load_table

    return load_table(spark, SF_DIR, "events")


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_estimate_within_expected_error(spark, events):
    from memfuse_spark.operators.sketches import hll_vs_exact

    row = hll_vs_exact(events, "user_id").collect()[0]
    # m=64 gives a ~13% standard error; allow 3 sigma.
    assert row["exact_distinct"] > 0
    assert row["rel_err"] < 0.40
    assert row["m"] == 64


def test_hll_merge_equals_single_pass(spark, events):
    """Sketch of a union == merge of per-part sketches (mergeability —
    the property that makes the register table epoch-combinable)."""
    from memfuse_spark.operators.sketches import hll_estimate, hll_merge, hll_registers

    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    merged = hll_estimate(hll_merge(hll_registers(a, "user_id"), hll_registers(b, "user_id")))
    single = hll_estimate(hll_registers(events, "user_id"))
    assert merged.collect() == single.collect()


def test_hll_registers_bounded(spark, events):
    from memfuse_spark.operators.sketches import HLL_M, hll_registers

    regs = hll_registers(events, "user_id").collect()
    assert len(regs) <= HLL_M
    assert all(1 <= r["max_rho"] <= 55 for r in regs)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def test_cms_never_undercounts(spark, docs):
    from memfuse_spark.operators.sketches import cms_heavy_hitters

    rows = cms_heavy_hitters(docs, "text", 15).collect()
    assert len(rows) == 15
    for r in rows:
        assert r["cms_count"] >= r["true_count"]
        assert r["overcount"] == r["cms_count"] - r["true_count"]


def test_cms_sketch_is_fixed_size(spark, docs):
    from memfuse_spark.functions.text import tokenize
    from memfuse_spark.operators.sketches import CMS_D, CMS_W, cms_build

    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    sketch = cms_build(counts, "token", "cnt")
    assert sketch.count() <= CMS_D * CMS_W


# ---------------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------------

def test_mad_flags_injected_outlier(spark):
    from memfuse_spark.operators.stats import mad_outlier_stats

    rows = [("a", float(v)) for v in range(100)] + [("a", 1e6)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = mad_outlier_stats(df).collect()[0]
    assert out["n_outliers"] >= 1
    assert out["median"] == pytest.approx(50.0, abs=1.0)


def test_mad_zero_mad_group_flags_nothing(spark):
    from memfuse_spark.operators.stats import mad_outlier_stats

    df = spark.createDataFrame(
        [("c", 5.0)] * 20, "event_type string, value double"
    )
    out = mad_outlier_stats(df).collect()[0]
    assert out["mad"] == 0.0
    assert out["n_outliers"] == 0


# ---------------------------------------------------------------------------
# CDC chunking
# ---------------------------------------------------------------------------

def test_cdc_chunk_hashes_stable_under_edit(spark):
    """Inserting a sentence mid-document perturbs only local chunks:
    most chunk hashes of the unedited suffix/prefix survive — the
    boundary-stability property fixed windows lack."""
    from memfuse_spark.operators.chunking import cdc_chunks

    base = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(200))
    edited = base.replace("tok100", "tok100 inserted sentence here")
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df).collect()
    h1 = {r["chunk_hash"] for r in out if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    shared = len(h1 & h2)
    assert shared >= 0.6 * min(len(h1), len(h2))


def test_cdc_min_chunk_guard(spark, docs):
    from memfuse_spark.operators.chunking import CDC_MIN_TOKENS, cdc_chunks

    out = cdc_chunks(docs).collect()
    # every non-final chunk of a doc has >= min_tokens tokens
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for chunks in by_doc.values():
        for c in sorted(chunks, key=lambda r: r["chunk_id"])[:-1]:
            assert c["n_tokens"] >= CDC_MIN_TOKENS


# ---------------------------------------------------------------------------
# prefix-filter similarity join
# ---------------------------------------------------------------------------

def test_prefix_filter_matches_bruteforce(spark):
    """Prefix filtering is EXACT: same pairs as the all-pairs scan."""
    from memfuse_spark.operators.dedup import prefix_filter_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "one two three four five"),
        (4, "one two three four six"),
        (5, "totally different content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in prefix_filter_pairs(df, 0.5).collect()}
    # brute force
    toks = {i: set(t.split()) for i, t in rows}
    want = {}
    ids = sorted(toks)
    for i in ids:
        for j in ids:
            if i < j:
                jac = len(toks[i] & toks[j]) / len(toks[i] | toks[j])
                if round(jac, 6) >= 0.5:
                    want[(i, j)] = round(jac, 6)
    assert got == want


def test_prefix_filter_scoped_cache_rotates(spark, docs):
    """The postings persist lives in a cache scope: a later call releases
    the earlier generation instead of accumulating cached RDDs."""
    from memfuse_spark import cache
    from memfuse_spark.operators.dedup import prefix_filter_pairs

    prefix_filter_pairs(docs, 0.9).count()
    mid = len(spark.sparkContext._jsc.getPersistentRDDs())
    prefix_filter_pairs(docs, 0.9).count()
    prefix_filter_pairs(docs, 0.9).count()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= mid + 1  # at most in-flight + one prior generation
    cache.release("dedup.prefix_toks")


# ---------------------------------------------------------------------------
# LRU query-result cache
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Bloom semi-join
# ---------------------------------------------------------------------------

def test_bloom_never_misses_true_matches(spark):
    from memfuse_spark.operators.sketches import bloom_semi_join_stats

    fact = spark.createDataFrame([(i,) for i in range(500)], "k long")
    keys = spark.createDataFrame([(i,) for i in range(0, 500, 7)], "k long")
    row = bloom_semi_join_stats(fact, keys, "k", "k").collect()[0]
    # no false negatives ever; pass-set contains every true match
    assert row["n_bloom_pass"] >= row["n_true_match"]
    assert row["n_true_match"] == len(range(0, 500, 7))
    assert row["n_false_positive"] == row["n_bloom_pass"] - row["n_true_match"]


def test_bloom_bitset_bounded(spark):
    from memfuse_spark.operators.sketches import BLOOM_M, bloom_bits

    keys = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    assert bloom_bits(keys, "k").count() <= BLOOM_M


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------

def test_triangle_counts_on_known_graph(spark):
    from memfuse_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges.append((4, 5)); edges.append((5, 4))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node_id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


# ---------------------------------------------------------------------------
# funnel + retention
# ---------------------------------------------------------------------------

def test_funnel_orders_strictly(spark):
    import datetime as dt

    from memfuse_spark.operators.temporal import funnel_counts

    t = dt.datetime(2026, 1, 1)
    rows = [
        # user 1 completes in order
        (1, "view", t), (1, "click", t + dt.timedelta(hours=1)),
        (1, "purchase", t + dt.timedelta(hours=2)),
        # user 2 clicks BEFORE viewing: click must not count
        (2, "click", t), (2, "view", t + dt.timedelta(hours=1)),
        # user 3 views only
        (3, "view", t),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["step"]: r["n_users"] for r in funnel_counts(df).collect()}
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_retention_counts_cohort_weeks(spark):
    import datetime as dt

    from memfuse_spark.operators.temporal import user_retention

    mon = dt.datetime(2026, 1, 5)  # a Monday
    rows = [
        (1, mon), (1, mon + dt.timedelta(days=8)),     # week 0 and week 1
        (2, mon + dt.timedelta(days=2)),               # week 0 only
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r["cohort_week"]), r["week_k"]): r["n_active"] for r in user_retention(df).collect()}
    assert got == {("2026-01-05", 0): 2, ("2026-01-05", 1): 1}


def test_psi_detects_injected_drift(spark, tables):
    """PSI is ~0 on identically-distributed halves and large when the
    after-window values are shifted."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR_MED
    from memfuse_spark.catalog import load_table
    from memfuse_spark.operators.stats import value_drift_psi

    # sf0.01: PSI's sampling-noise floor is ~2·bins/n ≈ 0.03 there
    # (at sf0.001 the floor alone is ~0.26 — too small for 64 bins)
    ev = load_table(spark, SF_DIR_MED, "events")
    # same-distribution split: hash-split halves of one window
    same = ev.withColumn(
        "ts",
        F.when(F.col("event_id") % 2 == 0,
               F.to_timestamp(F.lit("2024-01-01"))).otherwise(
               F.to_timestamp(F.lit("2024-02-01"))),
    )
    psi_same = value_drift_psi(same, "2024-01-15").collect()[0]["psi"]
    # shifted after-window: values doubled
    drifted = same.withColumn(
        "value",
        F.when(F.col("ts") >= F.lit("2024-01-15"), F.col("value") * 2.0)
        .otherwise(F.col("value")),
    )
    psi_drift = value_drift_psi(drifted, "2024-01-15").collect()[0]["psi"]
    assert psi_same < 0.1
    assert psi_drift > 0.25
    assert psi_drift > psi_same * 3


def test_hll_by_group_merges_per_group(spark, tables):
    """Grouped register state merges per group: union two epoch halves'
    (grp, bucket, max_rho) by max == registers of the whole."""
    from pyspark.sql import functions as F

    ev = tables["events"]
    from memfuse_spark.operators.sketches import HLL_M, _h60, _REST_BITS

    def regs(df):
        h = _h60(F.col("user_id").cast("string"))
        rest = F.floor(h / HLL_M).cast("bigint")
        rho = F.when(rest == 0, F.lit(_REST_BITS + 1)).otherwise(
            F.lit(_REST_BITS + 1) - F.length(F.bin(rest))
        )
        return (
            df.select(F.col("event_type").alias("grp"),
                      (h % HLL_M).alias("bucket"), rho.alias("rho"))
            .groupBy("grp", "bucket").agg(F.max("rho").alias("max_rho"))
        )

    h1 = regs(ev.filter(F.col("event_id") % 2 == 0))
    h2 = regs(ev.filter(F.col("event_id") % 2 == 1))
    merged = {
        (r["grp"], r["bucket"]): r["mr"]
        for r in h1.unionByName(h2).groupBy("grp", "bucket")
        .agg(F.max("max_rho").alias("mr")).collect()
    }
    whole = {(r["grp"], r["bucket"]): r["max_rho"] for r in regs(ev).collect()}
    assert merged == whole


# ---------------------------------------------------------------------------
# HLL overlap
# ---------------------------------------------------------------------------

def test_hll_overlap_estimates_known_intersection(spark):
    from memfuse_spark.operators.sketches import hll_overlap

    a = spark.range(0, 400).select(F.col("id").alias("v"))
    b = spark.range(300, 700).select(F.col("id").alias("v"))
    row = hll_overlap(a, b, "v").first()
    assert row.exact_intersection == 100
    # 64-register sketches: loose but sane bounds on the estimates
    assert 250 <= row.est_a <= 600 and 250 <= row.est_b <= 600
    assert row.est_union >= max(row.est_a, row.est_b)
    assert row.est_intersection == round(
        row.est_a + row.est_b - row.est_union, 2
    )


def test_hll_overlap_disjoint_sets_estimate_near_zero(spark):
    from memfuse_spark.operators.sketches import hll_overlap

    a = spark.range(0, 500).select(F.col("id").alias("v"))
    b = spark.range(10_000, 10_500).select(F.col("id").alias("v"))
    row = hll_overlap(a, b, "v").first()
    assert row.exact_intersection == 0
    # inclusion-exclusion noise stays small relative to set size
    assert abs(row.est_intersection) < 250


def test_column_profile_metrics(spark):
    from memfuse_spark.operators.stats import column_profile

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, None, 1.0), (3, "a", None), (4, "b", 4.0)],
        "id bigint, s string, v double",
    )
    got = {r.column_name: r for r in column_profile(df).collect()}
    assert got["id"].n_nulls == 0 and got["id"].n_distinct == 4
    assert got["id"].min_num == 1.0 and got["id"].max_num == 4.0
    assert got["s"].n_nulls == 1 and got["s"].n_distinct == 2
    assert got["s"].min_num is None and got["s"].max_num is None
    assert got["v"].n_nulls == 1
    assert got["v"].min_num == 1.0 and got["v"].max_num == 4.0


def test_grouped_hist_quantiles_close_to_exact(spark, tables):
    from memfuse_spark.operators.stats import histogram_quantiles_by_group

    ev = tables["events"]
    got = {
        (r.grp, r.quantile): r.estimate
        for r in histogram_quantiles_by_group(ev).collect()
    }
    exact = {
        (r.grp, 0.5): r.q50
        for r in ev.groupBy(F.col("event_type").alias("grp"))
        .agg(F.expr("percentile(value, 0.5)").alias("q50"))
        .collect()
    }
    # within one bin width of the exact per-group median
    rng = {
        r.grp: (r.mx - r.mn)
        for r in ev.groupBy(F.col("event_type").alias("grp"))
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for (grp, q), est in got.items():
        if q == 0.5:
            assert abs(est - exact[(grp, 0.5)]) <= rng[grp] / 64 + 0.01, grp
