"""Graph retrieval path (SURVEY.md §2.3 J5/J6, §2.6 U7).

The reference keeps an igraph/NetworkX graph per user and answers 1-hop
neighbor queries sorted by edge weight (memfuse `store/graph_store/
igraph_store.py:437-568`, `graphml_store.py:488-566`), building
similarity edges between chunks at flush time (`graphml_store.py:
770-830`). Spark-first: the graph IS two DataFrames (nodes, edges);
neighbor expansion is an equi-join, k-hop is k chained joins (each a
shuffle on the frontier only, never the full edge set when the frontier
is small enough to broadcast).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from memfuse_spark import cache

SIM_EDGE_THRESHOLD = 0.35


def build_similarity_edges(
    embeddings: DataFrame,
    threshold: float = SIM_EDGE_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """SIMILAR_TO edges between items with cosine ≥ threshold, both
    directions (the reference graph is undirected; we store both arcs).

    Distributed block-pair matmul scoring with the threshold pushed
    into the NumPy kernel (similarity.pairwise_scores_blocked) — only
    passing pairs ever materialize as rows; no driver collect, no
    corpus broadcast. For approximate edges at extreme scale, generate
    candidates with operators/ann.py LSH buckets and verify with the
    same cosine expression.
    """
    from memfuse_spark.operators.similarity import pairwise_scores_blocked

    pairs = pairwise_scores_blocked(
        embeddings, id_col, vec_col, threshold=threshold, score_decimals=score_decimals
    ).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), F.col("score").alias("weight")
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return sym.withColumn("relation", F.lit("SIMILAR_TO"))


def build_follows_edges(
    embeddings: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """FOLLOWS edges between consecutive ids (the reference links
    consecutive chunks of a session; weight 1.0)."""
    ids = embeddings.select(F.col(id_col).alias("src"))
    return ids.select(
        "src",
        (F.col("src") + 1).alias("dst"),
        F.lit(1.0).alias("weight"),
        F.lit("FOLLOWS").alias("relation"),
    ).join(
        embeddings.select(F.col(id_col).alias("dst")), "dst", "left_semi"
    ).select("src", "dst", "weight", "relation")


def build_edges_store(
    spark,
    embeddings: DataFrame,
    name: str,
    threshold: float = SIM_EDGE_THRESHOLD,
    num_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Materialize the similarity+follows graph ONCE as a src-bucketed
    warehouse table — the Spark analog of the reference's PERSISTENT
    graph store (the graph is built at ingest/flush time and queried
    many times; memfuse keeps it in a store, not rebuilt per query).
    Mirrors keyword.build_postings_index: the all-pairs edge
    construction becomes an ingest-time cost; every retrieval-time
    expansion is a bucket-pruned scan keyed on src, O(frontier
    neighborhoods) not O(corpus²)."""
    edges = build_similarity_edges(embeddings, threshold).unionByName(
        build_follows_edges(embeddings)
    )
    writer = edges.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", f"{path}/{name}")
    writer.bucketBy(num_buckets, "src").sortBy("src", "dst").saveAsTable(name)


def build_knn_edges(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BOUNDED-DEGREE similarity edges: symmetric SIMILAR_TO arcs from
    the mutual-kNN pairs (each end in the other's IVF-probed top-k) +
    sequential FOLLOWS — same (src, dst, weight, relation) contract as
    build_similarity_edges ∪ build_follows_edges, but sized O(n·k) BY
    CONSTRUCTION (≤ n·k/2 mutual pairs → ≤ n·k arcs, + n−1 FOLLOWS).

    Why this tier exists: a fixed cosine THRESHOLD densifies
    quadratically on a saturating embedding space (round-9 density
    probe: ~400× edges per 10× data at 0.35), so the threshold store is
    the small-corpus tier only; at 100 TB the graph store must bound
    degree, and mutuality is the standard hub filter. Candidates ride
    ann.mutual_knn_pairs' corpus-scaled LSH probing plan — the corpus
    never shuffles and nothing is all-pairs.
    """
    from memfuse_spark.operators.ann import mutual_knn_pairs

    pairs = mutual_knn_pairs(
        embeddings, k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"),
        F.col("score").alias("weight"),
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return sym.withColumn("relation", F.lit("SIMILAR_TO")).unionByName(
        build_follows_edges(embeddings, id_col)
    )


def build_knn_edges_store(
    spark,
    embeddings: DataFrame,
    name: str,
    k: int = 5,
    nprobe: int = 2,
    num_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Materialize the bounded-degree kNN graph ONCE as a src-bucketed
    warehouse table — identical store lifecycle to build_edges_store
    (ingest-time build, bucket-pruned O(frontier) reads), with the
    O(n·k) physical size that survives corpus growth. Every kernel
    (neighbors/k_hop/pagerank/kcore/triangles) runs over it unchanged.
    Reference anchor: the similarity-edge flush of
    store/graph_store/graphml_store.py:770-830 — its threshold
    semantics stay available as the small-corpus tier
    (build_edges_store)."""
    edges = build_knn_edges(embeddings, k=k, nprobe=nprobe)
    writer = edges.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", f"{path}/{name}")
    writer.bucketBy(num_buckets, "src").sortBy("src", "dst").saveAsTable(name)


# ---------------------------------------------------------------------------
# incremental (frozen-quantizer) kNN graph store
#
# build_knn_edges_store rebuilds the whole O(n·k) graph per call — right
# for the ingest-time batch build, wrong for a store that receives
# batches forever: at 100 TB you cannot pay O(corpus) per append. This
# tier freezes the quantizer at build time (plane count, hot-cell split
# config, centroids — exactly how a served IVF index freezes its
# codebook) and appends in O(batch): a new vector can only enter an old
# node's candidate set through one of that node's FROZEN probe cells, so
# the affected set is computable from the persisted probe lists alone.
# Re-keyed kNN lists land in LSM-style delta files; serve reads
# base-minus-dirty plus latest deltas; compaction folds (shadow-write +
# atomic swap, the compact_bucketed_corpus pattern). Quantizer drift
# after heavy growth is repaired by a RETRAIN (fresh build), the same
# contract as IVF retraining.
#
# Reference anchor: the similarity-edge flush of
# store/graph_store/graphml_store.py:770-830 runs per ingest batch —
# this is its bounded-degree, frozen-codebook Spark twin.
# ---------------------------------------------------------------------------


def _knn_store_dirs(path: str) -> dict:
    import os

    return {
        part: os.path.join(path, part)
        for part in (
            "meta", "cfg", "cents", "vecs", "probes",
            "arcs", "edges", "arcs_delta", "edges_delta", "commits",
        )
    }


def _celled_vectors(
    df: DataFrame,
    cfg: DataFrame,
    num_planes: int,
    dim: int,
    id_col: str,
    vec_col: str,
    max_extra: int,
) -> DataFrame:
    """(vec_id, vec array<double>, cell) under the FROZEN quantizer:
    base sign-LSH cell from `num_planes` hyperplanes, extended by the
    persisted per-cell split config (absent cell → no split).
    ``max_extra`` must come from the store's meta, not the current
    compile-time constant — it is part of the frozen codebook (the
    extension-bit budget the persisted __extra values index into)."""
    from memfuse_spark.operators.ann import apply_split_config, lsh_bucket

    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .withColumn("cell", lsh_bucket("vec", dim, num_planes))
    )
    return apply_split_config(
        base, cfg, "vec", dim, num_planes, cell_col="cell",
        max_extra=max_extra,
    )


KNN_STORE_CELL_BUCKETS = 64


def _cbucket(cell_col) -> "F.Column":
    """Deterministic cell→directory bucket (xxhash64 is seed-stable
    across sessions). vecs and probes are PARTITIONED by (gen, cbucket)
    so an append's candidate lookup prunes its scan to the ≤64 bucket
    dirs holding the recompute set's probed cells — a literal isin
    filter collected from the (bounded) needed-cell set, not a join
    the optimizer may or may not turn into DPP."""
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    return F.pmod(F.xxhash64(c), F.lit(KNN_STORE_CELL_BUCKETS))


def _committed_gens(spark, path: str) -> list:
    """Generations whose append COMMITTED (wrote its marker row as the
    final step). Base state is generation 0. Rows tagged with any other
    generation are orphans of a crashed append and are invisible to
    every reader until compaction rewrites the base."""
    from pyspark.errors import AnalysisException

    dirs = _knn_store_dirs(path)
    gens = {0}
    try:
        gens.update(
            r["gen"] for r in spark.read.parquet(dirs["commits"]).collect()
        )
    except AnalysisException:
        pass
    return sorted(gens)


def _gen_filtered(spark, directory: str, committed: list) -> DataFrame:
    return spark.read.parquet(directory).filter(F.col("gen").isin(committed))


def knn_store_vecs(spark, path: str) -> DataFrame:
    """Served celled vectors: base + committed appended batches."""
    return _gen_filtered(
        spark, _knn_store_dirs(path)["vecs"], _committed_gens(spark, path)
    ).select("vec_id", "vec", "cell")


def knn_store_probes(spark, path: str) -> DataFrame:
    """Served frozen probe lists (append-only, committed gens)."""
    return _gen_filtered(
        spark, _knn_store_dirs(path)["probes"], _committed_gens(spark, path)
    ).select("vec_id", "cell")


def build_knn_store_inc(
    spark,
    embeddings: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    target_cell_size: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: DataFrame | None = None,
) -> None:
    """Build the incremental kNN graph store at ``path``: fit the
    quantizer (corpus-scaled planes, hot-cell split config, centroids)
    on ``fit`` (default: the corpus itself), persist it, then persist
    the celled vectors, per-node probe lists, directed top-k arcs and
    the mutual SIMILAR_TO + FOLLOWS edge table. ``fit=`` exists so a
    full rebuild over old∪new with the OLD corpus as fit reproduces
    exactly what build(old)+append(new) serves — the append parity
    contract (and the DuckDB twin, oracles.knn_store_inc_edges_sql).

    ids must be unique across the base corpus and every appended batch
    (the reference's store keys chunks by primary id the same way)."""
    from memfuse_spark.operators.ann import (
        HOT_CELL_MAX_EXTRA, hot_cell_split_config, ivf_centroids, lsh_bucket,
        probe_via_centroids, scaled_num_planes, score_probed_cells,
    )

    import glob
    import shutil

    dirs = _knn_store_dirs(path)
    # a (re)build IS the retrain: it defines a fresh generation-0 state,
    # so delta files, commit markers and any shadow dirs a crashed
    # compaction left behind are stale
    for part in ("arcs_delta", "edges_delta", "commits"):
        shutil.rmtree(dirs[part], ignore_errors=True)
    for leftover in glob.glob(f"{path}/*__tmp_*") + glob.glob(
        f"{path}/*__old_*"
    ):
        shutil.rmtree(leftover, ignore_errors=True)
    corpus = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    fit_df = corpus if fit is None else fit.filter(
        F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    n, dim = fit_df.select(
        F.count(F.lit(1)), F.first(F.size("vec"), ignorenulls=True)
    ).first()
    if n == 0 or dim is None:
        raise ValueError("knn store build: empty/NULL-only fit corpus")
    num_planes = scaled_num_planes(n, target_cell_size)

    fit_cells = fit_df.withColumn(
        "cell", lsh_bucket("vec", int(dim), num_planes)
    )
    cfg = hot_cell_split_config(fit_cells, "cell", target_cell_size)
    cfg.write.mode("overwrite").parquet(dirs["cfg"])
    cfg = spark.read.parquet(dirs["cfg"])

    spark.createDataFrame(
        [(num_planes, int(dim), k, nprobe, target_cell_size,
          HOT_CELL_MAX_EXTRA)],
        "num_planes int, dim int, k int, nprobe int, "
        "target_cell_size int, max_extra int",
    ).write.mode("overwrite").parquet(dirs["meta"])

    fit_celled = _celled_vectors(
        fit_df, cfg, num_planes, int(dim), "vec_id", "vec", HOT_CELL_MAX_EXTRA
    )
    # Default build (fit == corpus): write the celled vectors FIRST and
    # derive the centroids from the read-back parquet — the celled
    # lineage (num_planes + max_extra hyperplane dot products per row)
    # then evaluates ONCE instead of once for the centroid aggregation
    # and again for the vecs write (r11; same rows either way, so the
    # centroid values are identical). With an explicit ``fit`` the
    # centroids must come from the fit corpus, not the full one — that
    # path keeps the original order.
    all_celled = (
        fit_celled
        if fit is None
        else _celled_vectors(
            corpus, cfg, num_planes, int(dim), "vec_id", "vec",
            HOT_CELL_MAX_EXTRA,
        )
    )
    all_celled.select("vec_id", "vec", "cell").withColumn(
        "gen", F.lit(0)
    ).withColumn("cbucket", _cbucket("cell")).repartition(
        "cbucket"
    ).write.partitionBy("gen", "cbucket").mode("overwrite").parquet(
        dirs["vecs"]
    )
    vecs = spark.read.parquet(dirs["vecs"])
    cents_src = vecs.select("vec_id", "vec", "cell") if fit is None else fit_celled
    ivf_centroids(cents_src, "cell", "vec_id", "vec", dim=int(dim)).write.mode(
        "overwrite"
    ).parquet(dirs["cents"])

    cent_rows = sorted(
        spark.read.parquet(dirs["cents"]).collect(), key=lambda r: r["cell"]
    )
    # one probe lineage, two narrow consumers (the probes table and the
    # scoring queries) — re-running the vectorized probe matmul beats
    # the corpus-wide probes⋈vecs shuffle join it replaces
    probed = probe_via_centroids(
        vecs.select(F.col("vec_id").alias("query_id"),
                    F.col("vec").alias("qvec")),
        cent_rows, nprobe,
        cell_type=vecs.schema["cell"].dataType.simpleString(),
    )
    probed.select(
        F.col("query_id").alias("vec_id"), "cell"
    ).withColumn("gen", F.lit(0)).withColumn(
        "cbucket", _cbucket("cell")
    ).write.partitionBy("gen", "cbucket").mode("overwrite").parquet(
        dirs["probes"]
    )

    members = vecs.select("cell", "vec_id", "vec")
    queries = probed.select("query_id", "qvec", "cell")
    score_probed_cells(members, queries, k).select(
        F.col("query_id").alias("src"), F.col("vec_id").alias("dst"), "score"
    ).write.mode("overwrite").parquet(dirs["arcs"])
    arcs = spark.read.parquet(dirs["arcs"])

    fwd = arcs.filter(F.col("src") < F.col("dst"))
    rev = arcs.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = fwd.join(rev, ["src", "dst"]).select(
        "src", "dst", F.col("score").alias("weight")
    )
    sym = mutual.unionByName(
        mutual.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                      "weight")
    ).withColumn("relation", F.lit("SIMILAR_TO"))
    edges = sym.unionByName(
        build_follows_edges(vecs, "vec_id")
    )
    edges.write.mode("overwrite").parquet(dirs["edges"])


def _next_gen(spark, path: str, committed: list) -> int:
    """The next append generation: one past every generation PHYSICALLY
    present in any gen-tagged file — committed or orphaned. A crashed
    append leaves uncommitted rows under its generation; the retry must
    not reuse that number (committing it would bless the orphans), so
    the scan covers all four gen-carrying dirs, not just the markers."""
    from pyspark.errors import AnalysisException

    dirs = _knn_store_dirs(path)
    mx = max(committed)
    for part in ("vecs", "probes", "arcs_delta", "edges_delta"):
        try:
            m = spark.read.parquet(dirs[part]).agg(F.max("gen")).first()[0]
        except AnalysisException:
            continue
        if m is not None:
            mx = max(mx, int(m))
    return mx + 1


def append_knn_store(
    spark,
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """O(batch) append under the frozen quantizer. A new vector enters
    an old node u's candidate set only through a cell in u's persisted
    probe list, so the affected set = probe-list owners of the batch's
    cells; the recompute set R = new ∪ affected re-derives its top-k
    against members of R's probed cells only. Fresh arcs and the
    recomputed mutual edges touching R land in gen-tagged delta files;
    FOLLOWS boundary arcs (append-only) join them. Nothing touches the
    base files — serve masks them (knn_store_arcs/knn_store_edges).

    Crash safety: each parquet write is individually atomic (Spark's
    output-commit protocol), and the append's generation only becomes
    VISIBLE when the final marker row lands in `commits` — readers
    filter every gen-tagged table to committed generations, so a crash
    at any earlier point leaves invisible orphan rows that the retry
    (which takes a fresh generation number past them) and the next
    compaction clean up. Single concurrent writer, as for every store
    in this engine."""
    from memfuse_spark import cache as _cache
    from memfuse_spark.operators.ann import (
        probe_via_centroids, score_probed_cells,
    )

    dirs = _knn_store_dirs(path)
    meta = spark.read.parquet(dirs["meta"]).first()
    cfg = spark.read.parquet(dirs["cfg"])
    cent_rows = sorted(
        spark.read.parquet(dirs["cents"]).collect(), key=lambda r: r["cell"]
    )
    committed = _committed_gens(spark, path)
    gen = _next_gen(spark, path, committed)

    # celled ONCE (checkpointed): the batch frame feeds six downstream
    # consumers, and deriving from the CALLER's frame (not a re-read of
    # the just-appended vecs dir) keeps the lineage valid across writes
    _cache.begin("graph.knn_append")
    new_celled = _celled_vectors(
        new_vecs, cfg, meta["num_planes"], meta["dim"], id_col, vec_col,
        meta["max_extra"],
    )
    new_celled, _ids = _cache.tracked_local_checkpoint(
        new_celled, "graph.knn_append"
    )
    new_celled.select("vec_id", "vec", "cell").withColumn(
        "gen", F.lit(gen)
    ).withColumn("cbucket", _cbucket("cell")).write.partitionBy(
        "gen", "cbucket"
    ).mode("append").parquet(dirs["vecs"])
    vecs_raw = _gen_filtered(spark, dirs["vecs"], committed + [gen])
    vecs = vecs_raw.select("vec_id", "vec", "cell")
    new_ids = new_celled.select("vec_id")

    new_probed = probe_via_centroids(
        new_celled.select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
        ),
        cent_rows, meta["nprobe"],
        cell_type=vecs.schema["cell"].dataType.simpleString(),
    )
    new_probed.select(
        F.col("query_id").alias("vec_id"), "cell"
    ).withColumn("gen", F.lit(gen)).withColumn(
        "cbucket", _cbucket("cell")
    ).write.partitionBy("gen", "cbucket").mode("append").parquet(
        dirs["probes"]
    )
    probes_raw = _gen_filtered(spark, dirs["probes"], committed + [gen])
    probes = probes_raw.select("vec_id", "cell")

    # affected olds: anyone whose frozen probe list contains a cell the
    # batch landed in (minus the batch itself, which is in R anyway).
    # The probes scan prunes to the batch cells' partition buckets — a
    # LITERAL isin over the ≤KNN_STORE_CELL_BUCKETS dir values.
    new_cells = new_celled.select("cell").distinct()
    new_buckets = [
        r[0]
        for r in new_cells.select(_cbucket("cell").alias("b"))
        .distinct().collect()
    ]
    affected = (
        probes_raw.filter(F.col("cbucket").isin(new_buckets))
        .select("vec_id", "cell")
        .join(new_cells, "cell", "left_semi")
        .select("vec_id").distinct()
        .join(new_ids, "vec_id", "left_anti")
    )
    r_ids = affected.unionByName(new_ids).distinct()

    # R's own probe lists are keyed by vec_id, not cell — that lookup
    # is the one thin linear scan an append pays
    probes_r = probes.join(r_ids, "vec_id", "left_semi")
    cells_needed = probes_r.select("cell").distinct()
    needed_buckets = [
        r[0]
        for r in cells_needed.select(_cbucket("cell").alias("b"))
        .distinct().collect()
    ]
    members = (
        vecs_raw.filter(F.col("cbucket").isin(needed_buckets))
        .join(cells_needed, "cell", "left_semi")
        .select("cell", "vec_id", "vec")
    )
    queries = probes_r.join(vecs.select("vec_id", "vec"), "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "cell"
    )
    fresh = score_probed_cells(members, queries, meta["k"]).select(
        F.col("query_id").alias("src"), F.col("vec_id").alias("dst"), "score"
    )
    fresh.withColumn("gen", F.lit(gen)).write.mode("append").parquet(
        dirs["arcs_delta"]
    )

    # recomputed mutual edges touching R, checked against the
    # post-append arc state: (u→v) fresh ∧ (v→u) in the arcs view. The
    # pair weight is ALWAYS the (lo→hi) arc's score — the direction the
    # full build and the oracle use — so parity never depends on two
    # independent float64 matmul reductions rounding identically.
    arcs_view = _knn_arcs_view(spark, path, committed + [gen])
    fresh_arcs = spark.read.parquet(dirs["arcs_delta"]).filter(
        F.col("gen") == gen
    )
    pair_keys = fresh_arcs.alias("f").join(
        arcs_view.alias("a"),
        (F.col("f.dst") == F.col("a.src")) & (F.col("f.src") == F.col("a.dst")),
        "left_semi",
    ).select(
        F.least("f.src", "f.dst").alias("src"),
        F.greatest("f.src", "f.dst").alias("dst"),
    ).distinct()
    pairs = pair_keys.join(arcs_view, ["src", "dst"]).select(
        "src", "dst", F.col("score").alias("weight")
    )
    sim = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                     "weight")
    ).withColumn("relation", F.lit("SIMILAR_TO"))

    # FOLLOWS boundary arcs: consecutive-id pairs with a new endpoint
    all_ids = vecs.select("vec_id")
    as_src = new_ids.select((F.col("vec_id") + 1).alias("vec_id")).join(
        all_ids, "vec_id", "left_semi"
    ).select((F.col("vec_id") - 1).alias("src"), F.col("vec_id").alias("dst"))
    as_dst = new_ids.select((F.col("vec_id") - 1).alias("vec_id")).join(
        all_ids, "vec_id", "left_semi"
    ).select(F.col("vec_id").alias("src"), (F.col("vec_id") + 1).alias("dst"))
    # each FOLLOWS arc has a new endpoint, so it cannot already exist in
    # the base or an earlier delta (ids are unique by contract)
    follows = as_src.unionByName(as_dst).distinct().select(
        "src", "dst", F.lit(1.0).alias("weight"),
        F.lit("FOLLOWS").alias("relation"),
    )

    sim.unionByName(follows).withColumn("gen", F.lit(gen)).write.mode(
        "append"
    ).parquet(dirs["edges_delta"])

    # COMMIT: the generation becomes visible only now
    spark.createDataFrame([(gen,)], "gen int").write.mode("append").parquet(
        dirs["commits"]
    )


def knn_store_arcs(spark, path: str) -> DataFrame:
    """Served directed top-k arcs: base minus re-keyed srcs, plus each
    re-keyed src's latest COMMITTED-generation delta rows."""
    return _knn_arcs_view(spark, path, _committed_gens(spark, path))


def _knn_arcs_view(spark, path: str, gens: list) -> DataFrame:
    from pyspark.errors import AnalysisException

    dirs = _knn_store_dirs(path)
    base = spark.read.parquet(dirs["arcs"])
    try:
        delta = _gen_filtered(spark, dirs["arcs_delta"], gens)
    except AnalysisException:
        return base
    latest = delta.groupBy("src").agg(F.max("gen").alias("gen"))
    live = delta.join(latest, ["src", "gen"]).select("src", "dst", "score")
    return base.join(
        delta.select("src").distinct(), "src", "left_anti"
    ).unionByName(live)


def knn_store_edges(spark, path: str) -> DataFrame:
    """Served edge table. A SIMILAR_TO row is live iff its generation
    equals the latest re-key generation of EITHER endpoint (0 for
    never-re-keyed): every append re-emits the full live pair set
    touching its recompute set, so the per-pair last writer wins.
    FOLLOWS rows are append-only and pass through."""
    from pyspark.errors import AnalysisException

    dirs = _knn_store_dirs(path)
    committed = _committed_gens(spark, path)
    base = spark.read.parquet(dirs["edges"]).withColumn("gen", F.lit(0))
    try:
        owner = _gen_filtered(
            spark, dirs["arcs_delta"], committed
        ).groupBy("src").agg(F.max("gen").alias("og"))
    except AnalysisException:
        return base.drop("gen")
    try:
        delta = _gen_filtered(spark, dirs["edges_delta"], committed)
    except AnalysisException:
        delta = base.limit(0)
    allrows = base.unionByName(delta)
    sim = (
        allrows.filter(F.col("relation") == "SIMILAR_TO")
        .join(owner.select(F.col("src").alias("__s"),
                           F.col("og").alias("__og_s")),
              F.col("src") == F.col("__s"), "left")
        .join(owner.select(F.col("src").alias("__d"),
                           F.col("og").alias("__og_d")),
              F.col("dst") == F.col("__d"), "left")
        .filter(
            F.col("gen")
            == F.greatest(
                F.coalesce(F.col("__og_s"), F.lit(0)),
                F.coalesce(F.col("__og_d"), F.lit(0)),
            )
        )
        .select("src", "dst", "weight", "relation")
    )
    fol = allrows.filter(F.col("relation") == "FOLLOWS").select(
        "src", "dst", "weight", "relation"
    )
    return sim.unionByName(fol)


def knn_store_drift(spark, path: str, hot_factor: float = 2.0) -> DataFrame:
    """One-row quantizer-drift report for the frozen store — the
    when-to-retrain knob. Appends keep correctness (the parity oracle
    proves it) but degrade RECALL as the corpus outgrows the frozen
    codebook, in two measurable ways this query surfaces from the
    store's own metadata (no corpus rescan beyond the thin vecs table):

    - ``new_cells`` / ``rows_new_cells``: served cells ABSENT from the
      frozen centroid table. Probing ranks frozen centroids only, so
      members of an unseen cell are UNREACHABLE as candidates (they
      still query outward) — rows here are invisible to every other
      node's kNN until a retrain.
    - ``hot_cells`` / ``hot_row_share``: cells past hot_factor × the
      fitted target size. The frozen split config no longer rebalances
      them, so their within-cell scoring work grows quadratically —
      the cost regression that the retrain's refreshed split removes.
    """
    meta = spark.read.parquet(_knn_store_dirs(path)["meta"]).first()
    vecs = knn_store_vecs(spark, path)
    cents = spark.read.parquet(_knn_store_dirs(path)["cents"])
    hot_cut = float(hot_factor) * meta["target_cell_size"]
    # one LEFT JOIN + one aggregation — the same shape as the SQL twin
    # (knn_store_drift_sql), so the pair stays structurally comparable
    flagged = (
        vecs.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(
            cents.select("cell", F.lit(1).alias("__known")), "cell", "left"
        )
        .withColumn("is_new", F.col("__known").isNull())
    )
    return flagged.agg(
        F.sum("cn").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long").alias("new_cells"),
        F.sum(F.when(F.col("is_new"), F.col("cn")).otherwise(0))
        .cast("long").alias("rows_new_cells"),
        F.max("cn").cast("long").alias("max_cell_rows"),
        F.sum(F.when(F.col("cn") > hot_cut, F.lit(1)).otherwise(0))
        .cast("long").alias("hot_cells"),
        F.round(
            F.sum(F.when(F.col("cn") > hot_cut, F.col("cn")).otherwise(0))
            / F.sum("cn"),
            6,
        ).alias("hot_row_share"),
    )


def compact_knn_store(spark, path: str) -> dict:
    """Fold the deltas into the base files (shadow-write + atomic swap,
    the compact_bucketed_corpus contract: single writer, readers pause
    for the rename gap). Logical content is unchanged — the serve views
    read identically before and after; what changes is segment count
    and the per-read masking joins. Returns delta row counts folded."""
    import os
    import shutil
    import uuid

    dirs = _knn_store_dirs(path)
    from pyspark.errors import AnalysisException

    committed = _committed_gens(spark, path)
    counts = {"arcs_delta": 0, "edges_delta": 0}
    try:
        counts["arcs_delta"] = _gen_filtered(
            spark, dirs["arcs_delta"], committed
        ).count()
    except AnalysisException:
        return counts
    try:
        counts["edges_delta"] = _gen_filtered(
            spark, dirs["edges_delta"], committed
        ).count()
    except AnalysisException:
        pass
    def _bucketed(view):
        return (
            view.withColumn("gen", F.lit(0))
            .withColumn("cbucket", _cbucket("cell"))
            .repartition("cbucket")
            .write.partitionBy("gen", "cbucket")
        )

    tag = uuid.uuid4().hex[:8]
    for part, writer in (
        ("arcs", knn_store_arcs(spark, path).write),
        ("edges", knn_store_edges(spark, path).write),
        # fold the append-only tables too: orphan rows from crashed
        # appends drop out, the folded rows re-tag as generation 0, and
        # the (gen, cbucket) layout is preserved
        ("vecs", _bucketed(knn_store_vecs(spark, path))),
        ("probes", _bucketed(knn_store_probes(spark, path))),
    ):
        tmp = f"{dirs[part]}__tmp_{tag}"
        writer.mode("overwrite").parquet(tmp)
        old = f"{dirs[part]}__old_{tag}"
        os.rename(dirs[part], old)
        os.rename(tmp, dirs[part])
        shutil.rmtree(old, ignore_errors=True)
    for part in ("arcs_delta", "edges_delta", "commits"):
        shutil.rmtree(dirs[part], ignore_errors=True)
    return counts


def neighbors(
    edges: DataFrame,
    node_id,
    relation: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """J5: 1-hop out-neighbors, optional relation filter, weight-desc
    order (reference igraph_store.py:437-523)."""
    out = edges.filter(F.col("src") == node_id)
    if relation is not None:
        out = out.filter(F.col("relation") == relation)
    out = out.select("dst", "relation", "weight").orderBy(
        F.desc("weight"), F.asc("dst"), F.asc("relation")
    )
    return out.limit(limit) if limit else out


def edges_between(edges: DataFrame, src, dst, relation: str | None = None) -> DataFrame:
    """J6: theta-lookup on a (src, dst[, relation]) pair
    (reference igraph_store.py:523-568)."""
    out = edges.filter((F.col("src") == src) & (F.col("dst") == dst))
    if relation is not None:
        out = out.filter(F.col("relation") == relation)
    return out.select("src", "dst", "relation", "weight").orderBy("relation")


def k_hop(
    edges: DataFrame, start_ids: list, k: int, checkpoint_every: int = 3
) -> DataFrame:
    """k-hop reachable set (distinct node ids with min hop count).

    k chained frontier joins. The frontier is explicitly broadcast
    against the (large) edge table — each hop is a map-side join over
    the edges, never an edge-table shuffle. Every `checkpoint_every`
    hops the frontier is localCheckpoint'ed to truncate the lineage
    chain (iterative plans otherwise re-derive every prior hop at each
    action and blow up the optimizer at large k). Checkpoints stay
    referenced by the returned plan, so they are registered in the
    scoped cache registry: the next k_hop call (or cache.release_all)
    unpersists the previous generation.
    """
    cache.begin("graph.k_hop")
    spark = edges.sparkSession
    frontier = spark.createDataFrame([(i,) for i in start_ids], ["node_id"]).withColumn(
        "hop", F.lit(0)
    )
    visited = frontier
    for hop in range(1, k + 1):
        nxt = (
            F.broadcast(frontier)
            .join(edges, frontier.node_id == edges.src)
            .select(F.col("dst").alias("node_id"))
            .distinct()
            .withColumn("hop", F.lit(hop))
        )
        nxt = nxt.join(
            F.broadcast(visited.select("node_id")), "node_id", "left_anti"
        )
        if hop % checkpoint_every == 0 and hop < k:
            nxt, _ = cache.tracked_local_checkpoint(nxt, "graph.k_hop")
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.groupBy("node_id").agg(F.min("hop").alias("hop"))


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """(node, component) — connected components by min-label propagation.

    Each iteration joins the label table with the symmetrized edge list
    (shuffle on node id, narrow rows: two ids), takes the per-neighbor
    min, and lowers each node's label to the least label seen. Converges
    in O(diameter) iterations; near-dup clusters are small and dense, so
    diameter is tiny in practice. Labels are localCheckpoint'ed each
    iteration — without it the iterative plan re-derives every prior
    round per action and the optimizer blows up (same lineage trick as
    k_hop). Convergence is detected by counting lowered labels (an
    action per iteration, each over the checkpointed — hence cheap —
    label table). For graphs whose diameter is itself at cluster scale,
    swap the inner step for the large-star/small-star pair (Kiveris et
    al. '14) — same join shape, O(log n) rounds.
    """
    sym = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    sym = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    cache.begin("graph.cc")
    spark = edges.sparkSession
    # Pin the (possibly expensive — e.g. a whole LSH+verify dedup
    # pipeline) edge plan ONCE: every iteration joins `sym` twice (the
    # neighbor-min and the changed-count), so an unmaterialized edge
    # subtree re-executes 2×iterations times — profiled at 87 jobs /
    # 454 stages for one dup_clusters_inc call before this checkpoint.
    # Narrow rows (two ids); released by the scope's next begin().
    sym, _sym_ids = cache.tracked_local_checkpoint(sym, "graph.cc")
    labels, prev_ids = cache.tracked_local_checkpoint(
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node")),
        "graph.cc",
    )
    for it in range(1, max_iter + 1):
        nbr_min = (
            labels.join(sym, labels.node == sym.a)
            .select(F.col("b").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        new = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        is_ckpt = it % checkpoint_every == 0
        if is_ckpt:
            new, new_ids = cache.tracked_local_checkpoint(new, "graph.cc")
        changed = (
            new.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") < F.col("old"))
            .count()
        )
        if is_ckpt:
            # `new` is eagerly materialized and `changed` is computed, so
            # the superseded checkpoint's blocks are no longer reachable
            # from any live plan — drop them now instead of holding one
            # generation per iteration.
            cache.unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
        labels = new
        if changed == 0:
            break
    else:
        # The final groupBy-min labeling below would silently mask an
        # unconverged (wrong) labeling — surface it instead.
        warnings.warn(
            f"connected_components: no fixed point after max_iter={max_iter} "
            "iterations; labels may be wrong (raise max_iter or use "
            "connected_components_twophase for high-diameter graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    # The final checkpoint backs the returned plan; the next cc call (or
    # cache.release_all) unpersists it.
    return labels.select("node", F.col("label").alias("component"))


def connected_components_twophase(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """(node, component) — connected components by alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC '14).

    The scale path promised by :func:`connected_components`'s docstring:
    min-label propagation needs O(diameter) rounds, which is fine for
    dense near-dup clusters but degenerate for chain-shaped graphs
    (reply threads, citation chains) whose diameter grows with the data.
    Each round here HALVES tree heights — O(log n) rounds regardless of
    diameter — at the same per-round cost shape (two groupBy-min
    shuffles over narrow (int, int) edge rows, never the payloads).

    large-star(u): every neighbor v > u re-points to
    m = min(N(u) ∪ {u}); small-star(u): u and its smaller neighbors all
    re-point to their minimum. At the fixed point the edge set is a
    union of stars whose centers are the component minima, so labels are
    identical to min-label propagation's (component = min node id) —
    the two algorithms are interchangeable under the same oracle.
    Per-round convergence check and lineage truncation follow the same
    tracked-localCheckpoint discipline as min-label.
    """
    spark = edges.sparkSession
    sym0 = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    nodes = (
        sym0.select("a")
        .unionByName(sym0.select(F.col("b").alias("a")))
        .distinct()
        .select(F.col("a").alias("node"))
    )
    cache.begin("graph.cc2")
    # directed big → small; self-loops dropped
    cur, prev_ids = cache.tracked_local_checkpoint(
        sym0.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct(),
        "graph.cc2",
    )
    for _ in range(max_rounds):
        # large-star: per node u over the FULL neighborhood (symmetrize),
        # m = min(N(u) ∪ {u}); emit (v, m) for v > u. Output stays
        # directed big → small because m ≤ u < v.
        sym = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star: neighbors of u are now all smaller; u and every
        # neighbor except the minimum re-point to m = min(N(u)).
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        nxt = (
            large.join(smins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(smins.select("a", F.col("m").alias("b")))
            .distinct()
        )
        nxt, new_ids = cache.tracked_local_checkpoint(nxt, "graph.cc2")
        changed = (
            nxt.join(cur, ["a", "b"], "left_anti").count()
            + cur.join(nxt, ["a", "b"], "left_anti").count()
        )
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        cur = nxt
        if changed == 0:
            break
    else:
        warnings.warn(
            f"connected_components_twophase: star fixed point not reached "
            f"after max_rounds={max_rounds}; labels may be wrong "
            "(O(log n) rounds expected — raise max_rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    # fixed point = stars rooted at component minima
    return nodes.join(
        cur.groupBy("a").agg(F.min("b").alias("root")),
        nodes.node == F.col("a"),
        "left",
    ).select("node", F.coalesce("root", "node").alias("component"))


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    score_decimals: int = 6,
) -> DataFrame:
    """(node, rank) — PageRank with a FIXED iteration count.

    The reference's graph stores expose centrality-style ranking only
    through igraph (store/graph_store/igraph_store.py keeps a full
    igraph.Graph in driver memory); Spark-first, the same computation is
    `iterations` rounds of contribute-and-sum over the edge DataFrame:
    each round shuffles (node, rank/out_deg) contributions — narrow
    rows, never payloads — and a groupBy-sum re-keys them by dst.
    Dangling mass (nodes with no out-edges) is redistributed uniformly,
    so ranks sum to 1 every round. A fixed iteration count (not a
    convergence test) keeps the result deterministic and
    oracle-expressible as unrolled SQL CTEs; lineage is truncated every
    round via the tracked localCheckpoint discipline (see k_hop).

    Scale shape: per round, one shuffle of |E| narrow rows + one of |V|
    rows; out-degrees are computed once. At 1000 executors the edge
    table partitioning is reused across rounds (same key), so AQE
    coalesces the exchange; nothing driver-side grows with the graph.
    """
    spark = edges.sparkSession
    cache.begin("graph.pagerank")
    # pin the (possibly derived — e.g. similarity-kernel) edge plan once:
    # every iteration runs an action against it, and without this each
    # action would re-evaluate the whole edge construction.
    e, _ = cache.tracked_local_checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct(),
        "graph.pagerank",
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, _ = cache.tracked_local_checkpoint(nodes, "graph.pagerank")
    n = nodes.count()
    out_deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    base, prev_ids = cache.tracked_local_checkpoint(
        nodes.join(out_deg, "node", "left").select(
            "node", F.coalesce("deg", F.lit(0)).alias("deg"), (F.lit(1.0) / n).alias("rank")
        ),
        "graph.pagerank",
    )
    ranks = base
    for _ in range(iterations):
        # dangling mass as a broadcast 1-row aggregate INSIDE the plan —
        # no separate driver action per iteration; the only action per
        # round is the eager checkpoint
        dang = ranks.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            ranks.filter(F.col("deg") > 0)
            .join(e, ranks.node == e.src)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        new = (
            ranks.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("dm") / F.lit(n))
                ).alias("rank"),
            )
        )
        new, new_ids = cache.tracked_local_checkpoint(new, "graph.pagerank")
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        ranks = new
    return ranks.select("node", F.round("rank", score_decimals).alias("rank")).orderBy(
        F.desc("rank"), F.asc("node")
    )


def kcore_nodes(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, degree) after ``rounds`` of k-core PEELING: each round
    drops every node whose undirected distinct-neighbor degree is
    below k, then restricts the edge set to survivors. The k-core is
    the fixpoint; a FIXED round count keeps the result deterministic
    and oracle-expressible as unrolled CTEs (the pagerank/CC
    convention here), and convergence is test-asserted by comparing
    rounds vs rounds+1 on the real corpus.

    Scale shape: per round one degree aggregation (|E| narrow rows,
    map-side combined) + two semi-joins keyed the same way; lineage is
    truncated every round via the tracked localCheckpoint discipline,
    so nothing driver-side grows with the graph.
    """
    spark = edges.sparkSession
    cache.begin("graph.kcore")
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    und = (
        sym.unionByName(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    e, prev_ids = cache.tracked_local_checkpoint(und, "graph.kcore")
    for _ in range(rounds):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        nxt = e.join(keep, "src", "leftsemi").join(
            keep.select(F.col("src").alias("dst")), "dst", "leftsemi"
        )
        nxt, nxt_ids = cache.tracked_local_checkpoint(nxt, "graph.kcore")
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = nxt_ids
        e = nxt
    return (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("degree"))
        .orderBy("node")
    )


def kcore_nodes_sql(
    edges_cte_block: str, k: int = 3, rounds: int = 6
) -> str:
    """DuckDB twin of :func:`kcore_nodes`: the same fixed peeling
    rounds unrolled as chained CTEs over the shared edge construction."""
    parts = [
        edges_cte_block.strip(),
        """e0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
  ) WHERE src <> dst
)""",
    ]
    # each e{r} is referenced twice (by k{r+1} and e{r+1}) — MATERIALIZED
    # stops DuckDB inlining the subtree exponentially across rounds
    for r in range(1, rounds + 1):
        parts.append(
            f"""k{r} AS (
  SELECT src FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
)"""
        )
        parts.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN k{r} a ON e.src = a.src JOIN k{r} b ON e.dst = b.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds} GROUP BY src ORDER BY node
"""
    )


def contextual_layers(
    embeddings: DataFrame,
    edges: DataFrame,
    qvecs: dict,
    similar: dict,
    k: int,
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> dict:
    """U7's three layers for a batch of queries, computed on the driver
    from each query's collected layer 1: ``{qid: [(id, score, layer),
    ...]}`` with the connected layer first, then the similar layer, then
    the rescored connected ids (``similar_contextual``), each ordered by
    score desc, id asc.

    ``qvecs`` maps each query id to its literal query vector, ``similar``
    to its layer-1 rows: ``similarity_topk(embeddings, qvec, k)``
    collected, or the same rows from a batch similarity join. Whatever
    the batch size, this runs 2 Spark jobs and checkpoints nothing:
    - the arcs out of the union of the layer-1 ids, their weights
      rounded by Spark; per query, the max per ``dst`` and the exclusion
      of its own layer 1 happen on the driver (rounding is monotone, so
      this is ``round(max(weight))``);
    - the union of the connected ids, each scored against the queries
      it is connected to with
      :func:`~memfuse_spark.operators.similarity.literal_score` (the
      expression ``similarity_topk`` scores with) and rounded by Spark;
      each query keeps its own connected ids' top k on the driver.
    Both collects hold ≤ the out-degree sum of the union of the layer-1
    ids, the rescore with one score column per query.
    """
    from memfuse_spark.functions.lits import sql_literal
    from memfuse_spark.operators.fusion import max_per_id, order_key
    from memfuse_spark.operators.similarity import literal_score

    def among(col: str, ids):
        return F.expr(f"`{col}` IN ({', '.join(map(sql_literal, ids))})")

    l1 = {q: sorted(((r[0], r[1]) for r in rows), key=order_key) for q, rows in similar.items()}
    srcs = {i for rows in l1.values() for i, _ in rows}
    out_of: dict = {}
    if srcs:
        out = edges.filter(among("src", srcs))
        for s, d, w in out.select("src", "dst", F.round("weight", score_decimals)).collect():
            out_of.setdefault(s, []).append((d, w))
    connected = {}
    for q, rows in l1.items():
        ids = {i for i, _ in rows}
        arcs = ((d, w) for i in ids for d, w in out_of.get(i, ()) if d not in ids)
        connected[q] = sorted(max_per_id(arcs).items(), key=order_key)
    rescored: dict = {q: [] for q in l1}
    qs = [q for q in l1 if connected[q]]
    if qs:
        mine = [{i for i, _ in connected[q]} for q in qs]
        scores = [
            F.when(among(id_col, ids), F.round(literal_score(qvecs[q]), score_decimals))
            .alias(f"q{n}")
            for n, (q, ids) in enumerate(zip(qs, mine))
        ]
        near = embeddings.filter(among(id_col, set().union(*mine)))
        got = near.select(id_col, *scores).collect()
        for n, (q, ids) in enumerate(zip(qs, mine), 1):
            rows = ((r[0], r[n]) for r in got if r[0] in ids)
            rescored[q] = sorted(rows, key=order_key)[:k]
    return {
        q: [(i, s, "connected") for i, s in connected[q]]
        + [(i, s, "similar") for i, s in l1[q]]
        + [(i, s, "similar_contextual") for i, s in rescored[q]]
        for q in l1
    }


def contextual_retrieval(
    embeddings: DataFrame,
    edges: DataFrame,
    qvec,
    k: int = 10,
    id_col: str = "vec_id",
    score_decimals: int = 6,
    *,
    similar: list | None = None,
) -> DataFrame:
    """U7 three-layer contextual retrieval (reference rag/retrieve/
    hybrid.py:166-249): (1) items similar to the query, (2) items
    connected to those, (3) connected items re-scored by similarity.
    Returns (vec_id, score, layer) — one union, layer-tagged, ordered by
    layer, score desc, id asc.

    The one-query case of :func:`contextual_layers`. Layer 1 is
    ``similarity_topk(embeddings, qvec, k)`` collected, or the caller's
    already collected rows of exactly that call (``similar=``, as the
    3-way recall passes its vector branch). So a call runs 2 Spark jobs
    (3 without ``similar=``), no checkpoint, and each collect holds ≤ k
    rows, except the arcs and the rescore: ≤ the out-degree sum of the
    k layer-1 nodes. ``qvec`` is a literal vector. The result is a
    driver-side relation (:func:`~memfuse_spark.functions.lits.values_df`):
    it collects with no job and pins no cached block, so any number of
    results stay valid at once. Ids take the embeddings' id type.
    """
    from memfuse_spark.functions.lits import values_df
    from memfuse_spark.operators.similarity import similarity_topk

    if similar is None:
        similar = similarity_topk(embeddings, qvec, k, id_col=id_col).collect()
    rows = contextual_layers(
        embeddings, edges, {0: qvec}, {0: similar}, k, id_col, score_decimals
    )[0]
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return values_df(
        embeddings.sparkSession,
        rows,
        [(id_col, id_type), ("score", "double"), ("layer", "string")],
    )


def triangle_counts(edges: DataFrame, top_n: int = 20) -> DataFrame:
    """(node_id, n_triangles) — per-node triangle participation over the
    undirected graph, top-n by count.

    Id-ordered enumeration: each undirected edge is kept once as
    (lo, hi); a triangle (a<b<c) is found exactly once via
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two equi-join shuffles keyed by node
    ids, no direction double-count. At scale the classic refinement is
    DEGREE orientation (orient each edge toward its higher-degree
    endpoint, Chiba–Nishizeki / compact-forward): fan-out per join key
    becomes O(max out-degree) = O(sqrt(m)) on skewed graphs instead of
    O(max degree). Id-orientation is used here because the similarity
    graph's degrees are threshold-bounded and the oracle must replay
    the exact same enumeration; the degree-oriented variant only
    changes which endpoint keys the join, not the result.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e1 = und.select(F.col("a"), F.col("b"))
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node_id"))
        .limit(top_n)
    )
    return per_node


def triangle_counts_sql(edges_cte_block: str, top_n: int = 20) -> str:
    """DuckDB twin of :func:`triangle_counts` over the same edge CTE."""
    return f"""
WITH {edges_cte_block.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE least(src, dst) < greatest(src, dst)
),
tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT a AS node_id FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node_id
ORDER BY n_triangles DESC, node_id ASC
LIMIT {top_n}
"""


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 8,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    score_decimals: int = 6,
) -> DataFrame:
    """(node, rank) — personalized PageRank: teleport (and dangling
    mass) return to the SEED set instead of the uniform vector, so
    ranks measure proximity to the seeds — the "related memories /
    neighborhood relevance" ranking a memory graph actually wants
    (global PageRank answers "important overall", PPR answers
    "important relative to these items").

    Identical iteration machinery to :func:`pagerank` (fixed rounds,
    per-round lineage checkpoints, one |E| + one |V| shuffle per round);
    only the restart vector changes: s_i = 1/|seeds| on seeds, else 0.
    """
    spark = edges.sparkSession
    cache.begin("graph.ppr")
    e, _ = cache.tracked_local_checkpoint(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct(),
        "graph.ppr",
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, _ = cache.tracked_local_checkpoint(nodes, "graph.ppr")
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    sv = F.when(
        F.col("node").isin(*seeds), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    base, prev_ids = cache.tracked_local_checkpoint(
        nodes.join(out_deg, "node", "left").select(
            "node",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            sv.alias("sv"),
            sv.alias("rank"),
        ),
        "graph.ppr",
    )
    ranks = base
    for _ in range(iterations):
        dang = ranks.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            ranks.filter(F.col("deg") > 0)
            .join(e, ranks.node == e.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        new = (
            ranks.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "deg",
                "sv",
                (
                    F.lit(1.0 - damping) * F.col("sv")
                    + F.lit(damping)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.col("dm") * F.col("sv")
                    )
                ).alias("rank"),
            )
        )
        new, new_ids = cache.tracked_local_checkpoint(new, "graph.ppr")
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        ranks = new
    return (
        ranks.filter(F.col("rank") > 0)
        .select("node", F.round("rank", score_decimals).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, community) — synchronous label propagation (Raghavan et
    al. '07), deterministic variant: every node adopts the most frequent
    label among its neighbors each round, ties broken by least label;
    fixed iteration count so the result is oracle-expressible as
    unrolled SQL (the same determinism contract as :func:`pagerank`).

    Communities differ from :func:`connected_components`: LPA splits a
    connected graph along density boundaries (a similarity graph's
    topical clusters), while CC only separates disconnected islands.
    The reference's igraph store keeps the whole graph in driver memory
    (store/graph_store/igraph_store.py); here every round is two
    shuffles of narrow (node, label) rows — join labels onto the
    symmetrized edge list, count per (node, neighbor-label), argmax by
    window — with the label table localCheckpoint'ed per round to stop
    lineage blowup.
    """
    spark = edges.sparkSession
    cache.begin("graph.lpa")
    sym = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym, _ = cache.tracked_local_checkpoint(sym, "graph.lpa")
    labels, prev_ids = cache.tracked_local_checkpoint(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "graph.lpa",
    )
    for _ in range(iterations):
        nbr = labels.select(
            F.col("node").alias("__nbr"), F.col("label").alias("__nl")
        )
        counts = (
            sym.join(nbr, sym.dst == nbr.__nbr)
            .groupBy(F.col("src").alias("node"), F.col("__nl").alias("label"))
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
        arg = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        new = labels.join(arg, "node", "left").select(
            "node", F.coalesce("new_label", "label").alias("label")
        )
        new, new_ids = cache.tracked_local_checkpoint(new, "graph.lpa")
        cache.unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        labels = new
    return labels.select(
        "node", F.col("label").alias("community")
    ).orderBy("node")
