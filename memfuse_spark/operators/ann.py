"""Approximate nearest-neighbor search — the scale path for similarity
top-k (SURVEY.md §4: the reference uses HNSW/StreamingDiskANN indexes,
`schemas/m1_episodic.sql:56-60`, `pgvectorscale_store.py:238-260`; Spark
has no vector index, so we prune the search space instead).

Two pruning strategies, both pure DataFrame ops:

- **Sign LSH** (random hyperplanes, Charikar '02): bucket = sign bits of
  B hyperplane dot products. A query scans only its bucket → expected
  n/2^B of the corpus. Hyperplanes are derived from md5 so Spark and the
  DuckDB oracle generate bit-identical planes (no RNG state to ship).
- **IVF** (inverted file / coarse quantizer): assign each vector to its
  nearest centroid; a query probes the nprobe nearest centroids and
  scans only those cells. Centroids here come from the corpus's label
  column (k-means would slot in identically via MLlib KMeans — the
  assignment/probe dataflow is the same).

At 100 TB: write the corpus partitioned by bucket/cell
(`partitionBy("bucket")`), so a query's scan prunes to matching parquet
partitions — Catalyst partition pruning turns top-k into an index probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from memfuse_spark.functions.lits import f64_array_lit, f64_array_sql
from memfuse_spark.functions.vector import cosine_similarity, dot

NUM_HYPERPLANES = 8


def scaled_num_planes(n: int, target_cell_size: int) -> int:
    """The corpus-scaled cell rule (measured, PLANS.md 10x probes):
    ``max(1, ceil(log2(max(n / target_cell_size, 2))))`` sign-LSH
    planes, so cell COUNT grows with the corpus and cell SIZE — and
    any O(cell²) within-cell kernel — stays ~constant. Shared by
    mutual_knn_pairs' default cells and dedup.semdedup_keep's
    num_planes=None mode; the DuckDB twin derives the same value from
    count(*) (oracles.mutual_knn_scaled_sql)."""
    import math

    return max(1, math.ceil(math.log2(max(n / target_cell_size, 2.0))))


def _hyperplane(j: int, dim: int) -> Column:
    """Deterministic hyperplane j: component i = md5-hash of "j|i" mapped
    to [-1, 1] (same derivation as functions.vector.hash_embedding)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}|"), i.cast("string"))), 1, 8),
                16,
                10,
            ).cast("double")
            / F.lit(float(0xFFFFFFFF))
        )
        * 2.0
        - 1.0,
    )


def _hyperplane_sql(j: int, dim: int) -> str:
    """Spark-SQL text of :func:`_hyperplane` — same ops, one parse."""
    return (
        f"transform(sequence(0, {dim - 1}), i ->"
        f" (cast(conv(substring(md5(concat('{j}|', cast(i as string))),1,8)"
        f",16,10) as double)/4294967295.0D)*2.0D-1.0D)"
    )


def lsh_bucket(
    vec_col: Column | str,
    dim: int,
    num_planes: int = NUM_HYPERPLANES,
    plane_offset: int = 0,
) -> Column:
    """Sign-bit bucket string for a vector column. ``plane_offset``
    starts the deterministic hyperplane sequence at plane j=offset —
    the hot-cell split (:func:`split_hot_cells`) extends a cell key
    with the NEXT planes in the same sequence.

    A STRING ``vec_col`` (a column name) builds the whole bucket as ONE
    parsed expression — the Column form pays ~78 ms of py4j round-trips
    PER PLANE at dim 64 (measured r11: 628 ms for 8 planes), a pure
    query-construction cost. Value-identical: same dot fold over the
    same md5-derived planes.
    """
    if isinstance(vec_col, str):
        from memfuse_spark.functions.vector import _dot_sql

        v = f"`{vec_col}`" if vec_col.isidentifier() else vec_col
        bits = "||".join(
            f"(case when {_dot_sql(v, _hyperplane_sql(j, dim))} > 0"
            f" then '1' else '0' end)"
            for j in range(plane_offset, plane_offset + num_planes)
        )
        return F.expr(f"({bits})")
    v = vec_col
    bits = [
        F.when(dot(v, _hyperplane(j, dim)) > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(plane_offset, plane_offset + num_planes)
    ]
    return F.concat(*bits)


HOT_CELL_MAX_EXTRA = 8  # split cap: one hot cell fans out to <= 256 subcells


def split_hot_cells(
    df: DataFrame,
    vec_col: str,
    dim: int,
    base_planes: int,
    target_cell_size: int,
    cell_col: str = "cell",
    max_extra: int = HOT_CELL_MAX_EXTRA,
    ext_bits_col: str | None = None,
) -> DataFrame:
    """Rebalance skewed sign-LSH cells by EXTENDING hot cells' keys with
    extra deterministic planes: a cell holding ``c`` rows gains
    ``extra = min(max_extra, max(0, ceil(log2(c / target))))`` more sign
    bits (hyperplanes ``base_planes .. base_planes+extra-1`` — the same
    md5 sequence, so the rule is reproducible in SQL), splitting it into
    up to ``2^extra`` subcells of ~target size.

    Why: the corpus-scaled plane-count rule (:func:`scaled_num_planes`)
    keeps the AVERAGE cell at target size, but sign-LSH cells on
    correlated data skew hard — the round-8 100× probe measured a max
    cell 19× target and a Σcell² work integral 9.1× the n·target ideal
    for semdedup's BoW vectors (6.1× for the embedding corpus), which is
    exactly the superlinearity the decade-4 wall times showed. Splitting
    is per-cell and data-driven: only cells over target pay it, and a
    cell of genuinely near-identical vectors (a true duplicate family)
    stays together — that residual quadratic mass is work the
    within-cell comparison MUST do anyway.

    Cost: one tiny aggregation (|cells| rows, broadcast back) plus
    ``max_extra`` additional sign bits computed per row. One pass, no
    extra shuffle of the corpus.

    ``df`` must already carry ``cell_col`` = lsh_bucket(v, dim,
    base_planes); returns the frame with ``cell_col`` replaced by the
    extended key (other columns untouched). ``ext_bits_col`` names a
    PRECOMPUTED max_extra-bit extension column (callers that checkpoint
    the celled frame include the bits in the checkpoint so downstream
    consumers pay string ops, not hyperplane dot products) — it is
    consumed and dropped.
    """
    cfg = hot_cell_split_config(df, cell_col, target_cell_size, max_extra)
    return apply_split_config(
        df, cfg, vec_col, dim, base_planes, cell_col, max_extra, ext_bits_col
    )


def hot_cell_split_config(
    df: DataFrame,
    cell_col: str,
    target_cell_size: int,
    max_extra: int = HOT_CELL_MAX_EXTRA,
) -> DataFrame:
    """The (cell, extra) split table behind :func:`split_hot_cells` —
    ``extra = min(max_extra, max(0, ceil(log2(count / target))))`` per
    cell. Exposed separately so a FROZEN-quantizer store (the
    incremental kNN graph store) can persist the config fitted on its
    base corpus and re-apply it verbatim to appended batches."""
    counts = df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("__cn"))
    return counts.select(
        cell_col,
        F.least(
            F.lit(max_extra),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.ceil(F.log2(F.col("__cn") / float(target_cell_size))),
            ),
        ).cast("int").alias("__extra"),
    )


def apply_split_config(
    df: DataFrame,
    cfg: DataFrame,
    vec_col: str,
    dim: int,
    base_planes: int,
    cell_col: str = "cell",
    max_extra: int = HOT_CELL_MAX_EXTRA,
    ext_bits_col: str | None = None,
) -> DataFrame:
    """Extend ``cell_col`` with each cell's configured extra sign bits
    (``cfg`` = (cell, __extra) from :func:`hot_cell_split_config`). A
    cell ABSENT from the config gets extra=0 — the frozen-quantizer
    append contract: a cell first seen after the fit stays unsplit
    until the next retrain/compaction. The left-join/coalesce is
    behavior-identical to the original inner join when cfg was fitted
    on ``df`` itself (every cell is present then)."""
    if ext_bits_col is None:
        df = df.withColumn(
            "__extbits",
            lsh_bucket(vec_col, dim, max_extra, plane_offset=base_planes),
        )
        ext_bits_col = "__extbits"
    return (
        df.join(F.broadcast(cfg), cell_col, "left")
        .withColumn("__extra", F.coalesce(F.col("__extra"), F.lit(0)))
        .withColumn(
            cell_col,
            F.concat(
                F.col(cell_col),
                F.expr(f"substring({ext_bits_col}, 1, __extra)"),
            ),
        )
        .drop(ext_bits_col, "__extra")
    )


def split_hot_cells_sql(
    cells_cte: str,
    base_planes_expr: str,
    dim: int,
    target_cell_size: int,
    max_extra: int = HOT_CELL_MAX_EXTRA,
    fit_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`split_hot_cells`: given a CTE name exposing
    (.., v, cell), emits CTE SQL ``cell_counts``/``cells`` where the
    final ``cells`` carries the extended key. ``base_planes_expr`` is a
    SQL expression for the base plane count (a literal, or the scaled
    params subquery). ``fit_pred`` (a predicate over the CTE's columns)
    restricts the CONFIG fit to a subset — the frozen-quantizer store
    contract (hot_cell_split_config + apply_split_config): counts come
    from the fit rows only, and a cell absent from the fit stays
    unsplit (LEFT JOIN, extra → 0)."""
    plane = plane_sql_expr(dim)
    fit_where = f"\n  WHERE {fit_pred}" if fit_pred is not None else ""
    join_kind = "LEFT JOIN" if fit_pred is not None else "JOIN"
    extra_expr = "coalesce(cc.extra, 0)" if fit_pred is not None else "cc.extra"
    return f"""cell_counts AS (
  SELECT cell,
         least({max_extra}, greatest(0,
           CAST(ceil(log2(count(*) / {target_cell_size}.0)) AS INT))) AS extra
  FROM {cells_cte}{fit_where} GROUP BY cell
),
cells AS (
  SELECT c0.* REPLACE (
    c0.cell || coalesce(array_to_string(
      list_transform(range({base_planes_expr},
                           {base_planes_expr} + {extra_expr}), j ->
        CASE WHEN list_dot_product(c0.v, {plane}) > 0
             THEN '1' ELSE '0' END), ''), '') AS cell)
  FROM {cells_cte} c0 {join_kind} cell_counts cc USING (cell)
)"""


def plane_sql_expr(dim: int) -> str:
    """DuckDB expression for deterministic hyperplane ``j`` (a
    DOUBLE[dim] list; a variable named ``j`` must be in scope — a
    list_transform/range lambda var in every caller). This is THE
    range-based form of the cross-engine bit-parity contract
    (:func:`_hyperplane` on the Spark side): one definition shared by
    split_hot_cells_sql, mutual_knn_scaled_sql and semdedup_scaled_sql
    so the md5 derivation cannot drift between twins.
    :func:`lsh_bucket_sql` keeps the unrolled literal-``j`` variant of
    the same derivation (same ``'{j}|{i}'`` md5 input)."""
    return (
        f"list_transform(range({dim}), i -> "
        "(CAST('0x' || substring(md5(j::VARCHAR || '|' || i::VARCHAR), 1, 8)"
        " AS BIGINT) / 4294967295.0) * 2.0 - 1.0)"
    )


def lsh_bucket_sql(vec_expr: str, dim: int, num_planes: int = NUM_HYPERPLANES) -> str:
    """DuckDB twin of :func:`lsh_bucket`."""
    bits = []
    for j in range(num_planes):
        plane = (
            f"list_transform(range({dim}), i -> "
            f"(CAST('0x' || substring(md5('{j}|' || i::VARCHAR), 1, 8) AS BIGINT)"
            f" / 4294967295.0) * 2.0 - 1.0)"
        )
        bits.append(
            f"CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {plane}) > 0"
            f" THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def ann_lsh_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_HYPERPLANES,
    score_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    The bucket filter is a plain predicate → at scale, with the corpus
    written partitioned by bucket, this prunes to one partition before
    any scoring happens.
    """
    dim = len(qvec)
    qdf = embeddings.sparkSession.createDataFrame(
        [(list(map(float, qvec)),)], f"qv array<double>"
    )
    qbucket = qdf.select(lsh_bucket("qv", dim, num_planes).alias("b")).first()["b"]
    q = f64_array_sql([float(x) for x in qvec])
    bucketed = embeddings.withColumn("bucket", lsh_bucket(vec_col, dim, num_planes))
    return (
        bucketed.filter(F.col("bucket") == qbucket)
        .select(
            id_col,
            F.round(cosine_similarity(vec_col, q), score_decimals).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ann_lsh_topk_multiprobe(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_HYPERPLANES,
    score_decimals: int = 6,
) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al. '07): scan the query's
    bucket plus every Hamming-1 neighbor bucket.

    Sign-LSH's recall failure mode is a query near a hyperplane: its
    nearest neighbors land one sign-flip away. Probing the num_planes
    1-flip buckets recovers them at (1 + num_planes)/2^num_planes of
    the corpus instead of doubling the planes (which would square the
    bucket count). The probe set is still a plain IN predicate — with
    the corpus partitioned by bucket (buffer.write_vector_epoch) it
    prunes to 1 + num_planes partitions before any scoring.
    """
    dim = len(qvec)
    qdf = embeddings.sparkSession.createDataFrame(
        [(list(map(float, qvec)),)], "qv array<double>"
    )
    qbucket = qdf.select(lsh_bucket("qv", dim, num_planes).alias("b")).first()["b"]
    probes = [qbucket] + [
        qbucket[:i] + ("1" if qbucket[i] == "0" else "0") + qbucket[i + 1 :]
        for i in range(num_planes)
    ]
    q = f64_array_sql([float(x) for x in qvec])
    bucketed = embeddings.withColumn("bucket", lsh_bucket(vec_col, dim, num_planes))
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(
            id_col,
            F.round(cosine_similarity(vec_col, q), score_decimals).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def compact_bucketed_corpus(spark, path: str) -> dict:
    """Segment-merge the bucketed vector store (the (epoch_id, bucket)
    epoch store buffer.write_vector_epoch appends to) back to one file
    per bucket: ``buffer.compact_epochs`` with the rows co-located by
    bucket. Returns {"files_before", "files_after"}; the concurrency
    contract is ``compact_epochs``'s."""
    from memfuse_spark.streaming.buffer import compact_epochs

    return compact_epochs(spark, path, lambda df: df.repartition("bucket"), "bucket")


def bucketed_topk(
    spark,
    path: str,
    qvec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_HYPERPLANES,
    score_decimals: int = 6,
) -> DataFrame:
    """Query the bucketed vector store: the bucket equality predicate
    (the query's own bucket, computed in the filter from the literal
    vector) prunes partitions before any IO; scoring touches one bucket
    directory per epoch. The store is read through ``buffer.read_epochs``
    with the schema recorded in its ``_schema.json``, so building the
    query starts no Spark job and collecting it takes one. (An epoch with
    more than 32 bucket directories adds Spark's parallel file-listing
    job to the build.)"""
    from memfuse_spark.streaming.buffer import read_epochs

    q = f64_array_sql([float(x) for x in qvec])
    corpus = read_epochs(spark, path).filter(
        F.col("bucket") == lsh_bucket(q, len(qvec), num_planes)
    )
    return (
        corpus.select(
            id_col,
            F.round(cosine_similarity(vec_col, q), score_decimals).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """MLlib KMeans coarse quantizer — the learned alternative to the
    label-derived cells in :func:`ivf_centroids`. Returns (model,
    assigned DataFrame with a `cell` column). Seeded for reproducibility
    within a Spark version (k-means±± init is seed-deterministic)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = embeddings.withColumn("features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell").fit(feats)
    assigned = model.transform(feats).drop("features")
    return model, assigned


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    nprobe: int = 2,
    cell_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Batch kNN join through IVF probing — the scale path for
    many-queries × huge-corpus similarity joins (`similarity.
    similarity_join` is the exact/broadcast-NL baseline).

    Each query ranks the (tiny, broadcast) centroid table and probes its
    `nprobe` best cells; candidates come from an equi-join of the corpus
    with the broadcast (query, cell) probe list, so scoring touches only
    probed cells — expected nprobe/n_cells of the corpus per query, and
    the corpus is never shuffled. Returns (query_id, vec_id, score),
    top-k per query.
    """
    from pyspark.sql import Window

    cents = ivf_centroids(corpus, cell_col, id_col, vec_col)
    probe_scored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", cosine_similarity(query_vec_col, "centroid")
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.desc("__sim"), F.asc("cell")
    )
    probed = (
        probe_scored.withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select(query_id_col, query_vec_col, "cell")
    )
    cand = corpus.join(
        F.broadcast(probed), corpus[cell_col] == probed["cell"]
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            cosine_similarity(vec_col, query_vec_col), score_decimals
        ).alias("score"),
    )
    w_k = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w_k))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy(query_id_col, F.desc("score"), F.asc(id_col))
    )


MUTUAL_KNN_TARGET_CELL = 500


def probe_via_centroids(
    queries: DataFrame,
    cent_rows: list,
    nprobe: int,
    score_decimals: int = 6,
    cell_type: str = "string",
) -> DataFrame:
    """Probe stage as ONE numpy matmul per Arrow batch against the
    COLLECTED centroid table (bounded: |cells| ≈ n/target rows of dim
    doubles — the same table the previous plan broadcast). The
    previous expression — crossJoin(broadcast(cents)) + a per-query
    row_number window — materialized n × |cells| rows through a
    window sort; with corpus-scaled cells |cells| grows with n, and
    the round-8 100× probe measured that explosion at 27.8× wall per
    10× data. Probe sims are rounded (half-away, score_decimals) with
    (sim DESC, cell ASC) tie order — the oracle twins apply the
    identical round() in their probe CTE.

    ``queries`` = (query_id, qvec array<double>); ``cent_rows`` = the
    collected (cell, centroid) rows, sorted by cell ASC. Returns
    (query_id, qvec, cell) — one row per probed cell. Extracted from
    mutual_knn_pairs so the frozen-quantizer kNN store append can probe
    new batches against its PERSISTED centroid table with bit-identical
    rounding and tie order."""
    import numpy as np

    from memfuse_spark.operators.similarity import _round_half_away

    probe_cells = [r["cell"] for r in cent_rows]
    cmat = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
    )
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    cmat = cmat / cnorm
    npb = min(nprobe, len(probe_cells))

    cells_arr = np.asarray(probe_cells, dtype=object)

    def probe_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q_mat = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            sims = _round_half_away(q_mat / qn @ cmat.T, score_decimals)
            # stable argsort on -sims over cell-ascending columns ==
            # (sim desc, cell asc) — the window's total order
            take = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
            out = pdf.iloc[
                np.repeat(np.arange(len(pdf)), npb)
            ][["query_id", "qvec"]].copy()
            out["cell"] = cells_arr[take.ravel()]
            yield out

    qid_type = queries.schema["query_id"].dataType.simpleString()
    return queries.mapInPandas(
        probe_batches,
        f"query_id {qid_type}, qvec array<double>, cell {cell_type}",
    )


def score_probed_cells(
    members: DataFrame,
    probed: DataFrame,
    k: int,
    score_decimals: int = 6,
    id_type: str | None = None,
    qid_type: str | None = None,
) -> DataFrame:
    """Per-cell scoring as ONE normalized float64 matmul per (cell)
    group — the pairwise_scores_blocked kernel shape. Each cell emits
    only its per-query top-k (a globally-top-k candidate is top-k
    within its owning cell, so the global window over nprobe*k partials
    per query stays exact); candidate volume leaving Python is
    n*nprobe*k rows, not n * cell_size. Self-matches (vec_id ==
    query_id) are dropped.

    ``members`` = (cell, vec_id, vec array<double>); ``probed`` =
    (cell, query_id, qvec array<double>). Returns (query_id, vec_id,
    score): each query's global top-k over its probed cells. Extracted
    from mutual_knn_pairs for reuse by the frozen-quantizer store."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from memfuse_spark.operators.similarity import _round_half_away

    def _norm(mat: "np.ndarray") -> "np.ndarray":
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return mat / norms

    def score_cell(key, m_pdf: "pd.DataFrame", q_pdf: "pd.DataFrame"):
        if len(m_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "score": []})
        m_ids = m_pdf["vec_id"].to_numpy()
        m_mat = _norm(np.stack(m_pdf["vec"].to_numpy()).astype(np.float64))
        q_ids = q_pdf["query_id"].to_numpy()
        q_mat = _norm(np.stack(q_pdf["qvec"].to_numpy()).astype(np.float64))
        sims = _round_half_away(q_mat @ m_mat.T, score_decimals)
        sims[q_ids[:, None] == m_ids[None, :]] = -np.inf  # drop self
        # rank by (rounded score desc, vec_id asc) — identical total
        # order to the downstream window
        order = np.lexsort((m_ids[None, :].repeat(len(q_ids), 0), -sims))
        take = order[:, : min(k, order.shape[1])]
        qi = np.arange(len(q_ids))[:, None].repeat(take.shape[1], 1)
        out = pd.DataFrame(
            {
                "query_id": q_ids[qi.ravel()],
                "vec_id": m_ids[take.ravel()],
                "score": sims[qi.ravel(), take.ravel()],
            }
        )
        return out[np.isfinite(out["score"])]

    if id_type is None:
        id_type = members.schema["vec_id"].dataType.simpleString()
    if qid_type is None:
        qid_type = probed.schema["query_id"].dataType.simpleString()
    partials = members.groupBy("cell").cogroup(
        probed.groupBy("cell")
    ).applyInPandas(
        score_cell, f"query_id {qid_type}, vec_id {id_type}, score double"
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        partials.withColumn("__rn", F.row_number().over(w_k))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def mutual_knn_pairs(
    corpus: DataFrame,
    k: int,
    nprobe: int = 2,
    cell_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    target_cell_size: int = MUTUAL_KNN_TARGET_CELL,
) -> DataFrame:
    """Reciprocal-kNN pair mining: (vec_a, vec_b, score) where each is
    in the other's IVF-probed top-k — the mutual-neighbor graph used
    for semantic clustering, re-ranking (reciprocal rank constraints),
    and high-precision near-dup candidates (mutuality filters the
    asymmetric hub matches that plain kNN graphs accumulate).

    Cells: the DEFAULT (``cell_col=None``) derives CORPUS-SCALED
    sign-LSH cells — ``num_planes = max(1, ceil(log2(max(n /
    target_cell_size, 2))))`` — the measured semdedup rule (PLANS.md
    10x probe: a FIXED cell count makes the per-cell kernel quadratic
    in corpus size, 4.5x wall at 10x data; scaling cells with the
    corpus keeps cell size — and the O(cell² · dim) kernel — flat).
    Pass ``cell_col=`` to probe existing data labels or learned KMeans
    cells (:func:`ivf_kmeans_centroids`) instead.

    NULL embeddings are dropped up front in BOTH tiers (default sign-LSH
    cells AND explicit ``cell_col=``): a NULL vector is nobody's
    neighbor — its cosine is NULL on both engines — and the kernel's
    ``np.stack`` would die on a ragged batch. Regression-tested for the
    ``cell_col=`` tier in ``tests/test_ann.py`` (ADVICE r8).

    Scale shape: the all-item kNN graph rides the same probing plan as
    :func:`ivf_knn_join` (corpus never shuffles; each item scores only
    its nprobe probed cells — expected nprobe/n_cells of the corpus),
    then the n·k-row kNN edge list self-joins on the swapped key pair.
    Nothing is all-pairs.
    """
    id_type = corpus.schema[id_col].dataType.simpleString()
    empty_schema = f"vec_a {id_type}, vec_b {id_type}, score double"
    dim_hint: int | None = None  # set when the default-cells branch derives dim
    # a NULL embedding is nobody's neighbor: drop it before anything
    # else (np.stack in the probe would die on a ragged batch, and a
    # NULL row's cosine is NULL on both engines anyway). The SQL twins
    # carry the identical IS NOT NULL predicate — including under the
    # plane-count subquery, so the corpus-scale rule sees the same n.
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    if cell_col is None:
        # one tiny job: corpus size (for the scaled-planes rule) + the
        # actual vector dimensionality (the hyperplanes must match it).
        # count(1), not count(id_col): the oracle counts rows (count(*)
        # over the null-filtered source), and an empty corpus must
        # short-circuit — F.first(size) is None then, and int(None)
        # would raise (ADVICE r7). ignorenulls is belt-and-braces on
        # top of the NULL-vector filter above.
        n, dim = corpus.select(
            F.count(F.lit(1)), F.first(F.size(vec_col), ignorenulls=True)
        ).first()
        if n == 0 or dim is None:
            return corpus.sparkSession.createDataFrame([], empty_schema)
        dim_hint = int(dim)
        num_planes = scaled_num_planes(n, target_cell_size)
        from memfuse_spark import cache as _cache

        # begin() rotates the scope's generation: the PREVIOUS call's
        # checkpoint survives one more begin() (its returned lazy
        # result may still be unmaterialized), older ones are dropped
        _cache.begin("ann.mutual_knn")
        # the semdedup_keep two-checkpoint handoff: (1) checkpoint the
        # celled frame WITH the precomputed split-extension bits, so
        # the scan + cast + hyperplane dots run exactly once; (2) split
        # on top of the checkpoint (its corpus-wide cell-count groupBy
        # + broadcast join read checkpoint blocks, not raw lineage);
        # (3) checkpoint the split result — it feeds THREE consumers
        # (queries, centroids, members) — and release #1 immediately.
        corpus = corpus.withColumn(
            "__vd", F.col(vec_col).cast("array<double>")
        ).withColumn(
            "__cell", lsh_bucket("__vd", int(dim), num_planes)
        ).withColumn(
            "__extbits",
            lsh_bucket(
                "__vd", int(dim), HOT_CELL_MAX_EXTRA,
                plane_offset=num_planes,
            ),
        )
        corpus, celled_ids = _cache.tracked_local_checkpoint(
            corpus, "ann.mutual_knn"
        )
        # SCALE-MODE default: rebalance skewed cells (round-8 100×
        # probe: max cell 11× target, Σcell² work 6.1× the n·target
        # ideal on the embedding corpus) — hot cells get extra
        # deterministic planes; the oracle applies the identical rule
        # (split_hot_cells_sql inside mutual_knn_scaled_sql).
        corpus = split_hot_cells(
            corpus, "__vd", int(dim), num_planes, target_cell_size,
            cell_col="__cell", ext_bits_col="__extbits",
        ).drop("__vd")
        corpus, _ids = _cache.tracked_local_checkpoint(
            corpus, "ann.mutual_knn"
        )
        _cache.unpersist_rdd_ids(corpus.sparkSession, celled_ids)
        cell_col = "__cell"

    queries = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    cents = ivf_centroids(corpus, cell_col, id_col, vec_col, dim=dim_hint)
    cent_rows = sorted(cents.collect(), key=lambda r: r["cell"])
    if not cent_rows:
        return corpus.sparkSession.createDataFrame([], empty_schema)
    cell_type = corpus.schema[cell_col].dataType.simpleString()
    probed = probe_via_centroids(
        queries, cent_rows, nprobe, score_decimals, cell_type
    )
    members = corpus.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    knn = score_probed_cells(members, probed, k, score_decimals)
    # Mutuality via ONE canonical-pair aggregation instead of a fwd⋈rev
    # self-join: Spark does no CSE across self-join branches, so the
    # join form re-executed the whole probe + per-cell matmul kernel —
    # the dominant cost — once per side, and paid a join shuffle on top.
    # Each kNN arc votes for its canonical (min, max) pair tagged with
    # its direction; a pair is mutual iff BOTH directions voted. The
    # score is direction-symmetric (cosine of the same two vectors,
    # identical rounding), and (query_id, vec_id) arcs are unique (one
    # cell owns each member; the top-k window emits each arc once), so
    # max() over the direction-tagged columns reproduces the join's
    # fwd-side score exactly.
    canon = knn.select(
        F.least("query_id", "vec_id").alias("vec_a"),
        F.greatest("query_id", "vec_id").alias("vec_b"),
        F.when(
            F.col("query_id") < F.col("vec_id"), F.col("score")
        ).alias("__s_fwd"),
        F.when(F.col("query_id") > F.col("vec_id"), F.lit(1)).alias("__rev"),
    )
    return (
        canon.groupBy("vec_a", "vec_b")
        .agg(F.max("__s_fwd").alias("score"), F.max("__rev").alias("__r"))
        .filter(F.col("score").isNotNull() & F.col("__r").isNotNull())
        .select("vec_a", "vec_b", "score")
        .orderBy("vec_a", "vec_b")
    )


def label_outliers(
    corpus: DataFrame,
    k: int,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """(label, vec_id, score): the k embeddings FURTHEST from their own
    label's centroid (lowest cosine), per label — the mislabeled/noise
    screen a curation pipeline runs before using labels for training
    or for IVF cell assignment. One narrow scan + a broadcast of the
    tiny centroid table + a per-label top-k window; no shuffle of the
    corpus beyond the final window on the (bounded) label key."""
    from pyspark.sql import Window

    cents = ivf_centroids(corpus, cell_col, id_col, vec_col)
    scored = corpus.join(
        F.broadcast(cents), corpus[cell_col] == cents["cell"]
    ).select(
        F.col(cell_col).cast("int").alias("label"),
        F.col(id_col).alias("vec_id"),
        F.round(
            cosine_similarity(
                F.col(vec_col).cast("array<double>"), F.col("centroid")
            ),
            score_decimals,
        ).alias("score"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("label", "score", "vec_id")
    )


def ivf_centroids(
    embeddings: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """(cell, centroid) — element-wise mean per cell.

    With ``dim=`` (callers that know the vector width statically): ONE
    groupBy(cell) whose aggregate is an array of per-position avgs —
    a single Exchange of |cells| rows and no row explosion (r11; one
    parsed expression, so construction stays one py4j call). Each
    ``avg(get(v, i))`` ignores NULL elements and missing positions
    (``get`` reads NULL past a vector's end, where ``v[i]`` raises
    under ANSI mode) exactly as the explode path's per-(cell,pos) avg
    does, so the two paths are value-identical on every position some
    member vector has; both feed the same round(). They differ at trailing positions that NO
    member vector of a cell has (all its vectors shorter than ``dim``):
    the ``dim=`` centroid still has ``dim`` elements, NULL there, while
    the explode path's centroid is that much shorter.

    Default (dim unknown): posexplode → groupBy(cell, pos) avg →
    re-assemble ordered array. Two narrow shuffles over (cells × dim)
    rows — independent of corpus row count after the partial agg.
    """
    if dim is not None:
        comps = ",".join(
            f"round(avg(cast(get(`{vec_col}`, {i}) as double)), {decimals})"
            for i in range(dim)
        )
        return embeddings.groupBy(F.col(cell_col).alias("cell")).agg(
            F.expr(f"array({comps})").alias("centroid")
        )
    exploded = embeddings.select(
        F.col(cell_col).alias("cell"), F.posexplode(vec_col).alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    means = exploded.groupBy("cell", "pos").agg(F.avg("x").alias("m"))
    assembled = means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: F.round(s["m"], decimals)
        ).alias("centroid")
    )
    return assembled


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (broadcast
    the tiny centroid table; one pass over the corpus)."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", cosine_similarity(vec_col, "centroid")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, "cell")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    nprobe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """IVF probe: rank centroids by query similarity, exact-search the
    nprobe best cells only."""
    cents = ivf_centroids(embeddings, cell_col, id_col, vec_col, dim=len(qvec))
    q = f64_array_sql([float(x) for x in qvec])
    probed = (
        cents.withColumn("__sim", cosine_similarity("centroid", q))
        .orderBy(F.desc("__sim"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    candidates = embeddings.join(
        F.broadcast(probed), embeddings[cell_col] == probed["cell"], "left_semi"
    )
    return (
        candidates.select(
            id_col,
            F.round(cosine_similarity(vec_col, q), score_decimals).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# deterministic PQ tier (label-derived codebooks, oracle-expressible)
# ---------------------------------------------------------------------------

def pq_codebooks_from_labels(
    embeddings: DataFrame,
    m: int = 4,
    dim: int = 64,
    cell_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """(s, cell, cvec) — per-subspace PQ codebooks derived from the
    corpus's label column: codeword = rounded per-position mean of the
    label's subvector (the per-subspace analog of ivf_centroids).

    Codewords come from labels, not a k-means fit, so every codeword is
    reproducible as plain SQL aggregation and the whole PQ pipeline is
    DuckDB-oracle-checkable. Rounding the codewords (both sides) pins
    the downstream distance arithmetic to identical inputs.

    Shape at scale: one posexplode + two narrow shuffles over
    (cells × dim) rows — independent of corpus size after the partial
    aggregation, same as ivf_centroids.
    """
    d_sub = dim // m
    exploded = embeddings.select(
        F.col(cell_col).alias("cell"), F.posexplode(vec_col).alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    means = exploded.groupBy("cell", "pos").agg(F.avg("x").alias("mn"))
    return (
        means.withColumn("s", (F.col("pos") / d_sub).cast("int"))
        .groupBy("s", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))),
                lambda st: F.round(st["mn"], decimals),
            ).alias("cvec")
        )
    )


def pq_encode_from_codebooks(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, s, code) — nearest codeword per subspace, JVM-side.

    The corpus explodes to m rows per vector (narrow: id + a d/m-dim
    subvector), joins the broadcast codebook on subspace, and takes the
    L2-argmin per (vector, subspace) as min(struct(d2, cell)) — the
    struct ordering makes ties deterministic (lowest cell wins), which
    the oracle mirrors with ORDER BY d2, cell. No Python anywhere:
    distance folds are sequential (left-to-right) so they are
    bit-comparable with the oracle's sequential list arithmetic.
    """
    d_sub = dim // m
    subs = embeddings.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).select(
        id_col,
        "s",
        F.slice("__v", F.col("s") * d_sub + 1, d_sub).alias("sub"),
    )
    d2 = F.aggregate(
        F.zip_with("sub", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        subs.join(F.broadcast(codebooks), "s")
        .select(id_col, "s", F.col("cell"), d2.alias("d2"))
        .groupBy(id_col, "s")
        .agg(F.min(F.struct("d2", "cell"))["cell"].alias("code"))
    )


def pq_topk_from_labels(
    embeddings: DataFrame,
    qvec,
    k: int,
    m: int = 4,
    dim: int = 64,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """ADC cosine top-k over label-derived PQ codes.

    score(doc) = dot(q, recon(doc)) / (‖recon(doc)‖·‖q‖) where
    recon(doc) concatenates the doc's m codewords. Because dot and norm²
    decompose over subspaces, the query needs only the m·cells-row
    lookup table (qdot_s, cnorm2_s) — broadcast — and per doc a sum of m
    looked-up terms: the compressed column is never decompressed.
    End-to-end: codebook build (corpus pass 1), encode (corpus pass 2),
    then top-k touches only the code table — the 32× smaller surrogate
    corpus.
    """
    import math

    q = [float(x) for x in qvec]
    qnorm = math.sqrt(sum(x * x for x in q))
    d_sub = dim // m
    cb = pq_codebooks_from_labels(embeddings, m, dim, cell_col, vec_col)
    codes = pq_encode_from_codebooks(embeddings, cb, m, dim, id_col, vec_col)
    qfull = f64_array_lit(q)
    qsub = F.slice(qfull, F.col("s") * d_sub + 1, d_sub)
    tab = cb.select(
        "s",
        F.col("cell").alias("code"),
        dot(F.col("cvec"), qsub).alias("qdot"),
        dot(F.col("cvec"), F.col("cvec")).alias("cn2"),
    )
    per_doc = (
        codes.join(F.broadcast(tab), ["s", "code"])
        .groupBy(id_col)
        .agg(F.sum("qdot").alias("qd"), F.sum("cn2").alias("n2"))
    )
    score = F.round(
        F.coalesce(F.try_divide(F.col("qd"), F.sqrt("n2") * F.lit(qnorm)), F.lit(0.0)),
        score_decimals,
    )
    return (
        per_doc.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    qvec,
    k: int,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ: coarse probe + ADC scoring of compressed codes — the
    standard composition (Jégou et al. '11) behind billion-scale ANN
    (FAISS IVFPQ): the coarse quantizer prunes the corpus to nprobe
    cells, then Asymmetric Distance Computation scores only those
    cells' PQ codes against the broadcast per-subspace lookup table.

    Cost model at 100 TB: the query touches (corpus/cells)·nprobe code
    rows of m bytes each — with the corpus partitioned by cell (see
    buffer.write_vector_epoch for the parquet layout twin) the probe is a
    partition-pruned scan of the 32×-compressed surrogate; the full
    vectors are read by NOTHING. Codebooks and codes are index-time
    artifacts (two corpus passes, amortized); only the cell restriction
    and the m-term sum are query-time.
    """
    import math

    q = [float(x) for x in qvec]
    qnorm = math.sqrt(sum(x * x for x in q))
    d_sub = dim // m

    cents = ivf_centroids(embeddings, cell_col, id_col, vec_col, dim=dim)
    qarr = f64_array_lit(q)
    probed = (
        cents.withColumn("__sim", cosine_similarity("centroid", f64_array_sql(q)))
        .orderBy(F.desc("__sim"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cand = embeddings.join(
        F.broadcast(probed), embeddings[cell_col] == probed["cell"], "left_semi"
    )
    # codebooks are built from the FULL corpus (index-time artifact);
    # only the probed cells' vectors are encoded/scored at query time —
    # the runtime stand-in for reading precomputed codes of those cells.
    cb = pq_codebooks_from_labels(embeddings, m, dim, cell_col, vec_col)
    codes = pq_encode_from_codebooks(cand, cb, m, dim, id_col, vec_col)
    qsub = F.slice(qarr, F.col("s") * d_sub + 1, d_sub)
    tab = cb.select(
        "s",
        F.col("cell").alias("code"),
        dot(F.col("cvec"), qsub).alias("qdot"),
        dot(F.col("cvec"), F.col("cvec")).alias("cn2"),
    )
    per_doc = (
        codes.join(F.broadcast(tab), ["s", "code"])
        .groupBy(id_col)
        .agg(F.sum("qdot").alias("qd"), F.sum("cn2").alias("n2"))
    )
    score = F.round(
        F.coalesce(F.try_divide(F.col("qd"), F.sqrt("n2") * F.lit(qnorm)), F.lit(0.0)),
        score_decimals,
    )
    return (
        per_doc.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# binary quantization (1 bit/dimension) + Hamming rank + exact rescore
# ---------------------------------------------------------------------------

BQ_WORD_BITS = 16  # 16-bit words: shift-safe in every engine (no sign bit)


def bq_pack_words(vec_col, dim: int = 64, word_bits: int = BQ_WORD_BITS):
    """Sign-bit pack a float vector into ``dim/word_bits`` small-int
    words (bit b of word w = vec[w*word_bits + b] > 0) — 32× smaller
    than float32, 64× smaller than float64. 16-bit words sidestep
     64-bit shift/sign pitfalls and mirror the proven simhash packing."""
    if dim % word_bits != 0:
        # a partial trailing word would silently DROP dim % word_bits
        # dimensions from the packed code and skew the Hamming ranking
        # with no error — fail loudly instead
        raise ValueError(
            f"dim={dim} is not a multiple of word_bits={word_bits}; "
            f"the trailing {dim % word_bits} dimensions would be "
            "silently excluded from the binary code"
        )
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    words = []
    for w in range(dim // word_bits):
        # static unroll (word_bits terms): pure codegen arithmetic, no
        # higher-order function
        word = F.lit(0)
        for b in range(word_bits):
            word = word + F.when(
                F.element_at(vec, w * word_bits + b + 1) > 0, F.lit(1 << b)
            ).otherwise(F.lit(0))
        words.append(word.alias(f"bw{w}"))
    return words


def bq_topk(
    embeddings,
    qvec,
    k: int,
    candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    score_decimals: int = 6,
):
    """Binary-quantization retrieval (the modern vector-store cheap
    tier): sign-bit pack the corpus → rank by Hamming distance to the
    packed query (pure codegen: bit_count(xor)) → take ``candidates``
    (default 4k) → RESCORE the survivors with exact cosine → top-k.

    Scale shape: the Hamming scan reads dim/8 bytes per row instead of
    8·dim and ends in TakeOrderedAndProject; only ``candidates`` rows
    ever touch the full-precision vectors. With a stored packed column
    (ingest-time, like the edge store) the scan cost drops 64×; here
    packing is inline so the operator is self-contained.
    """
    from memfuse_spark.functions.vector import cosine_similarity

    cand_n = candidates or 4 * k
    n_words = dim // BQ_WORD_BITS
    qwords = [
        sum(
            (1 << b) if float(qvec[w * BQ_WORD_BITS + b]) > 0 else 0
            for b in range(BQ_WORD_BITS)
        )
        for w in range(n_words)
    ]
    packed = embeddings.select(
        id_col, vec_col, *bq_pack_words(vec_col, dim=dim)
    )
    hamming = None
    for w, qw in enumerate(qwords):
        h = F.expr(f"bit_count(bw{w} ^ {qw})")
        hamming = h if hamming is None else hamming + h
    cand = (
        packed.withColumn("hamming", hamming.cast("int"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(cand_n)
    )
    score = F.round(
        cosine_similarity(vec_col, f64_array_sql(qvec)), score_decimals
    )
    return (
        cand.select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bq_topk_sql(anchor: int, k: int, candidates: int, dim: int = 64) -> str:
    """DuckDB twin of :func:`bq_topk`."""
    n_words = dim // BQ_WORD_BITS
    word = (
        "list_sum(list_transform(range(1, {wb} + 1), b -> CASE WHEN "
        "e.embedding[{off} + b] > 0 THEN (1 << (b - 1)) ELSE 0 END))"
    )
    corpus_words = ", ".join(
        word.format(wb=BQ_WORD_BITS, off=w * BQ_WORD_BITS) + f" AS bw{w}"
        for w in range(n_words)
    )
    q_words = ", ".join(
        word.format(wb=BQ_WORD_BITS, off=w * BQ_WORD_BITS) + f" AS qw{w}"
        for w in range(n_words)
    )
    ham = " + ".join(f"bit_count(xor(p.bw{w}, q.qw{w}))" for w in range(n_words))
    cos = (
        "round(list_dot_product(CAST(c.embedding AS DOUBLE[]), qv.v)"
        " / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),"
        " CAST(c.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(qv.v, qv.v))), 6)"
    )
    return f"""
WITH q AS (
  SELECT {q_words} FROM embeddings e WHERE e.vec_id = {anchor}
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = {anchor}),
packed AS (
  SELECT e.vec_id, e.embedding, {corpus_words} FROM embeddings e
),
cand AS (
  SELECT p.vec_id, p.embedding, CAST(({ham}) AS INT) AS hamming
  FROM packed p, q
  ORDER BY hamming ASC, p.vec_id ASC
  LIMIT {candidates}
)
SELECT c.vec_id, {cos} AS score
FROM cand c, qv
ORDER BY score DESC, c.vec_id ASC
LIMIT {k}
"""


def build_bq_store(spark, embeddings, name: str, dim: int = 64, path: str | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize the sign-packed binary codes ONCE as a warehouse
    table (ingest-time, like the postings/edge stores): 4 small-int
    words + the id per row — the Hamming scan then reads ~1/64th of
    the float corpus bytes."""
    packed = embeddings.select(id_col, *bq_pack_words(vec_col, dim=dim))
    writer = packed.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", f"{path}/{name}")
    writer.saveAsTable(name)


def bq_topk_from_store(
    spark,
    store_name: str,
    embeddings,
    qvec,
    k: int,
    candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    score_decimals: int = 6,
):
    """bq_topk against the PREBUILT packed store: the Hamming rank scans
    only (id, 4 int words) — never the float vectors — and the exact-
    cosine rescore joins the ≤`candidates` winners back to the
    embeddings by id (broadcast). Same results as the inline
    :func:`bq_topk` (same oracle), 64× less scan I/O at query time."""
    from memfuse_spark.functions.vector import cosine_similarity

    cand_n = candidates or 4 * k
    n_words = dim // BQ_WORD_BITS
    qwords = [
        sum(
            (1 << b) if float(qvec[w * BQ_WORD_BITS + b]) > 0 else 0
            for b in range(BQ_WORD_BITS)
        )
        for w in range(n_words)
    ]
    hamming = None
    for w, qw in enumerate(qwords):
        h = F.expr(f"bit_count(bw{w} ^ {qw})")
        hamming = h if hamming is None else hamming + h
    cand = (
        spark.table(store_name)
        .withColumn("hamming", hamming.cast("int"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(cand_n)
        .select(id_col)
    )
    score = F.round(
        cosine_similarity(vec_col, f64_array_sql(qvec)),
        score_decimals,
    )
    return (
        embeddings.join(F.broadcast(cand), id_col)
        .select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
