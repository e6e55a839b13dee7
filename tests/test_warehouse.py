"""Gold-layout warehouse: pruning and shuffle-elimination guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gold_layout_prunes_and_joins_without_shuffle(spark, tmp_path):
    from memfuse_spark.sources.warehouse import build_gold_tables

    db = "gold_test"
    names = build_gold_tables(spark, SF_DIR, db, path=str(tmp_path / "gold"))

    # 1. date-partition pruning: a day filter must reach PartitionFilters
    ev = spark.table(names["events_gold"]).filter(
        F.col("event_date") == "2024-01-10"
    )
    plan = _plan(ev)
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]

    # 2. bucketed fact⋈fact join: lineitem⋈orders on the bucket key must
    # plan WITHOUT any Exchange (the 100 TB dominant shuffle, gone)
    li = spark.table(names["lineitem_gold"])
    orders = spark.table(names["orders_gold"])
    joined = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "o_totalprice", "l_quantity")
    jplan = _plan(joined)
    assert "SortMergeJoin" in jplan
    assert "Exchange" not in jplan

    # 3. result parity: the gold layout changes plans, never answers
    flat_count = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == flat_count

    # 4. bucket pruning on a key-equality scan. autoBucketedScan plans a
    # join-free bucketed scan as a plain one, which still reads only the
    # selected buckets' files but prints no SelectedBucketsCount — pin
    # it off so the plan string shows the pruning
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        one = spark.table(names["documents_gold"]).filter(F.col("doc_id") == 7)
        oplan = _plan(one)
        assert "SelectedBucketsCount: 1 out of" in oplan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
