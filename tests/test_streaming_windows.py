"""Streaming session-window aggregation: stream-vs-batch parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_session_window_stream_matches_batch(spark, tables, tmp_path):
    """The watermarked streaming session aggregation emits exactly the
    batch session windows once the watermark passes them.

    Append mode emits only CLOSED windows, and the watermark is global
    (max event time - delay), so the source carries one far-future
    sentinel row: every real session closes; the sentinel's own
    still-open session is the only one withheld."""
    from memfuse_spark.streaming.windows import (
        run_session_stream,
        session_window_agg,
    )

    ev = tables["events"].select("user_id", "ts", "value")
    sentinel = spark.createDataFrame(
        [(-1,)], "user_id long"
    ).select(
        "user_id",
        (F.to_timestamp(F.lit("2030-01-01 00:00:00"))).alias("ts"),
        F.lit(0.0).alias("value"),
    )
    src = str(tmp_path / "src")
    ev.unionByName(sentinel).write.parquet(src)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_session_stream(
        spark, src, spark.read.parquet(src).schema, out, ckpt
    )

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["value_sum"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["value_sum"])
        for r in session_window_agg(ev).collect()
    }
    assert got == want
    assert len(want) > 0


def test_session_window_agg_matches_sessionize_twin(spark, tables):
    """F.session_window gap semantics == the batch lag/cumsum twin
    (operators/temporal.sessionize): same session count per key and the
    same per-session event counts."""
    from memfuse_spark.operators.temporal import sessionize
    from memfuse_spark.streaming.windows import session_window_agg

    ev = tables["events"].select("user_id", "ts", "value", "event_id")
    native = session_window_agg(ev)
    twin = (
        sessionize(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )
    n_native = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in native.collect()
    }
    n_twin = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in twin.collect()
    }
    assert n_native == n_twin


def test_sketch_ingest_stream_leaves_session_write_mode_alone(spark, tmp_path):
    """The sketch stream's replay-safe epoch write must not switch the
    session to dynamic partition overwrite: afterwards a plain
    overwrite of a partitioned table still replaces every partition."""
    from memfuse_spark.streaming.windows import sketch_ingest_stream

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    src = str(tmp_path / "src")
    spark.createDataFrame([("a b",), ("b c",)], "text string").write.parquet(src)
    out = str(tmp_path / "hh")
    q = sketch_ingest_stream(spark, src, spark.read.parquet(src).schema, out)
    q.awaitTermination()
    assert spark.read.parquet(f"{out}/cms").count() > 0
    assert spark.conf.get(key) == before

    table = str(tmp_path / "t")
    rows = "p int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], rows).write.partitionBy("p").parquet(table)
    spark.createDataFrame([(3, "c")], rows).write.mode("overwrite").partitionBy(
        "p"
    ).parquet(table)
    assert [r.p for r in spark.read.parquet(table).collect()] == [3]


def test_sliding_heavy_hitters_matches_batch_merge(spark, tables, tmp_path):
    """Streamed per-epoch CMS sketches merged over the last K epochs give
    the same estimates as one batch sketch built from those epochs' raw
    docs — the mergeability that lets a stream answer sliding-window
    heavy-hitter queries from O(K × cells) state."""
    from pyspark.sql import functions as F

    from memfuse_spark.functions.text import tokenize
    from memfuse_spark.operators.sketches import cms_build, cms_estimate
    from memfuse_spark.streaming.windows import (
        sketch_ingest_stream,
        sliding_heavy_hitters,
    )

    docs = tables["documents"].select("doc_id", "text")
    src = str(tmp_path / "src")
    # three files -> three micro-batches (maxFilesPerTrigger=1); each
    # split carries a marker token so epochs can be mapped back to
    # splits from their sketches alone (file-ingestion order is not
    # guaranteed to follow write order)
    for i in range(3):
        (
            docs.filter(F.col("doc_id") % 3 == i)
            .withColumn("text", F.concat(F.col("text"), F.lit(f" splitmarker{i}")))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    docs = spark.read.parquet(src).select("doc_id", "text")

    out = str(tmp_path / "hh")
    q = sketch_ingest_stream(spark, src, spark.read.parquet(src).schema, out)
    q.awaitTermination()

    sketches = spark.read.parquet(f"{out}/cms")
    n_epochs = sketches.select("epoch_id").distinct().count()
    assert n_epochs == 3
    assert sketches.count() <= 3 * 2048  # fixed-size state per epoch

    probe = ["merge", "vector", "query", "spark", "zzz_absent"]
    got = {
        r["token"]: r["cms_count"]
        for r in sliding_heavy_hitters(spark, out, 2, probe).collect()
    }

    # batch twin over the SAME last-2-epoch documents: identify each
    # epoch's split by probing its own sketch for the marker tokens
    last2 = [
        r["epoch_id"]
        for r in sketches.select("epoch_id").distinct()
        .orderBy(F.desc("epoch_id")).limit(2).collect()
    ]
    markers = spark.createDataFrame(
        [(f"splitmarker{i}",) for i in range(3)], "token string"
    )
    splits = []
    for e in last2:
        est = {
            r["token"]: r["cms_count"]
            for r in cms_estimate(
                sketches.filter(F.col("epoch_id") == e), markers
            ).collect()
        }
        splits.append(int(max(est, key=est.get)[-1]))
    subset = docs.filter((F.col("doc_id") % 3).isin(splits))
    counts = (
        subset.select(F.explode_outer(tokenize("text")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    items = spark.createDataFrame([(t,) for t in probe], "token string")
    want = {
        r["token"]: r["cms_count"]
        for r in cms_estimate(cms_build(counts), items).collect()
    }
    assert got == want


def test_attribution_stream_matches_batch(spark, tables, tmp_path):
    """Stream-stream interval join (view→click within 30 min) emits
    exactly the batch join's matches: inner-join rows emit eagerly, the
    watermark only bounds state, so availableNow drains everything."""
    from memfuse_spark.streaming.windows import (
        attribution_join,
        run_attribution_stream,
    )

    ev = tables["events"].select("event_id", "ts", "user_id", "event_type")
    src = str(tmp_path / "attr_src")
    ev.write.parquet(src)

    out, ckpt = str(tmp_path / "attr_out"), str(tmp_path / "attr_ckpt")
    run_attribution_stream(
        spark, src, spark.read.parquet(src).schema, out, ckpt
    )

    key = lambda r: (r["user_id"], r["view_id"], r["click_id"])
    got = sorted(key(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        key(r)
        for r in attribution_join(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "click"),
        ).collect()
    )
    assert got == want
    assert len(want) > 0


def test_attribution_join_band_semantics(spark):
    from memfuse_spark.streaming.windows import attribution_join

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:10:00", 7, "click"),   # in window
        (3, "2024-01-01 10:40:00", 7, "click"),   # past 30 min
        (4, "2024-01-01 09:50:00", 7, "click"),   # before the view
        (5, "2024-01-01 10:10:00", 8, "click"),   # other user
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, event_type string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type")
    got = attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    ).collect()
    assert [(r.view_id, r.click_id, r.lag_seconds) for r in got] == [(1, 2, 600.0)]
