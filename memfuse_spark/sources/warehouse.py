"""Gold-layout warehouse builder: the physical layout this engine would
deploy at 100 TB, materialized and assertable locally.

The driver test data arrives as one parquet file per table — fine for
correctness, wrong for scale. This module writes the layout the query
inventory actually wants, so its effects (PartitionFilters, bucket-pruned
scans, shuffle-free bucketed joins) are testable here and transplant
directly to a cluster:

- ``events``  → partitioned by event date (every events query filters or
  groups on time → partition pruning), bucketed by user_id (sessionize /
  funnel / retention / windows all shuffle on user_id → the bucketed
  layout pre-co-locates them).
- ``documents`` / ``embeddings`` → bucketed by id (dedup joins, hydration
  joins, and the pair-verify joins are id-keyed equi-joins — bucketed
  tables of the two sides join with ZERO shuffle).
- ``lineitem`` / ``orders`` → bucketed by orderkey (the one fact⋈fact
  join in the TPC-H suite; bucketed co-location removes its shuffle,
  which at 100 TB is THE dominant exchange).

Complements the two layout tools that already exist for specific paths:
``keyword.build_postings_index`` (term-bucketed FTS index) and
``buffer.write_vector_epoch`` (vectors partitioned by LSH bucket);
``operators/layout.py`` adds Z-order within files.

Bucketed tables require the session warehouse (``saveAsTable``); callers
pass a distinct ``database`` per (test, sf) to avoid collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from memfuse_spark.catalog import load_table

GOLD_BUCKETS = 8  # local default; cluster deployments size ~total-cores


def build_gold_tables(
    spark: SparkSession,
    sf_dir: str,
    database: str,
    path: str | None = None,
    tables: tuple = ("events", "documents", "orders", "lineitem"),
    buckets: int = GOLD_BUCKETS,
) -> dict[str, str]:
    """Materialize the gold layout; returns {logical name: table name}.
    ``path`` anchors the database location (defaults to a temp dir so
    managed-table files never land in the repo/cwd warehouse)."""
    import shutil
    import tempfile

    known = {"events", "documents", "embeddings", "orders", "lineitem"}
    unknown = set(tables) - known
    if unknown:
        raise ValueError(
            f"unknown gold tables {sorted(unknown)!r}; supported: {sorted(known)}"
        )
    if path is None:
        path = tempfile.mkdtemp(prefix="memfuse_gold_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database} LOCATION '{path}'")
    out: dict[str, str] = {}

    def save(df: DataFrame, name: str, bucket_col: str, part_col: str | None):
        full = f"{database}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {full}")
        # DROP TABLE of an unregistered leftover doesn't clear its files
        shutil.rmtree(f"{path}/{name}", ignore_errors=True)
        w = df.write.mode("overwrite").format("parquet")
        if part_col is not None:
            w = w.partitionBy(part_col)
        w.bucketBy(buckets, bucket_col).sortBy(bucket_col).saveAsTable(full)
        out[name] = full

    if "events" in tables:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        save(ev, "events_gold", "user_id", "event_date")
    if "documents" in tables:
        save(load_table(spark, sf_dir, "documents"), "documents_gold",
             "doc_id", None)
    if "embeddings" in tables:
        save(load_table(spark, sf_dir, "embeddings"), "embeddings_gold",
             "vec_id", None)
    if "orders" in tables:
        save(load_table(spark, sf_dir, "orders"), "orders_gold",
             "o_orderkey", None)
    if "lineitem" in tables:
        save(load_table(spark, sf_dir, "lineitem"), "lineitem_gold",
             "l_orderkey", None)
    return out
