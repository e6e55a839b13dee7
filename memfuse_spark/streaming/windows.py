"""Streaming session-window aggregation with watermarked late-data
handling.

The reference sessionizes implicitly (its buffers key on session_id and
flush on triggers — ``buffer/round_buffer.py``); a Spark deployment gets
gap-based sessionization natively from ``F.session_window`` in Structured
Streaming: per-key windows that extend while events arrive within the gap
and close (emit) once the watermark passes the gap. State per open session
is O(aggregates), eviction is watermark-driven — this holds at an
unbounded stream where a batch lag/window pass cannot run.

Batch twin: ``operators/temporal.sessionize`` (lag/cumsum) — the gap
semantics are identical, which the parity test asserts
(``test_streaming_windows.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memfuse_spark.operators.temporal import SESSION_GAP_MINUTES


def session_window_agg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-(key, session-window) rollup: n events, value sum, window
    bounds. Works identically on a streaming or batch DataFrame —
    the watermark clause is applied only when streaming (batch ignores
    it), so one definition serves both the stream and its parity twin.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def run_session_stream(
    spark,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
) -> None:
    """Drive the session-window aggregation over a file stream to a
    parquet sink (availableNow — drains the source then stops; the same
    writer runs continuously off Kafka with a processingTime trigger)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = session_window_agg(stream, gap_minutes=gap_minutes)
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        # no timeout: availableNow terminates on its own once drained; a
        # timed await returning False would leave the sink half-written
        # and the query orphaned
        .awaitTermination()
    )


def sketch_ingest_stream(
    spark,
    source_dir: str,
    schema,
    out_base: str,
    text_col: str = "text",
):
    """Streaming heavy-hitter maintenance: each micro-batch folds into a
    per-epoch count-min sketch (2048 fixed cells), written as one epoch
    of ``{out_base}/cms`` (buffer.write_epoch: a replayed epoch REPLACES
    its partition, the exactly-once pattern of every epoch store), and
    the raw text is never retained.

    A SLIDING-window heavy-hitter query is then pure sketch algebra:
    read the last K epoch partitions, sum counters per (hash_row,
    bucket) — CMS is mergeable by addition — and probe. No raw-data
    rescan, O(K × 2048) state: the reason sketches, not counts, are
    what a 100 TB stream stores per window.
    """
    from memfuse_spark.functions.text import tokenize
    from memfuse_spark.operators.sketches import cms_build
    from memfuse_spark.streaming.buffer import _epoch_stream, write_epoch

    def process_batch(batch, epoch_id: int) -> None:
        counts = (
            batch.select(F.explode_outer(tokenize(text_col)).alias("token"))
            .filter(F.col("token").isNotNull())
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
        )
        write_epoch(cms_build(counts), f"{out_base}/cms", epoch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return _epoch_stream(stream, out_base, process_batch)


def sliding_heavy_hitters(
    spark, out_base: str, last_k_epochs: int, probe_tokens
) -> "DataFrame":
    """Merge the last K epoch sketches by counter addition and estimate
    the probe tokens' counts over that sliding window."""
    from memfuse_spark.operators.sketches import cms_estimate
    from memfuse_spark.streaming.buffer import read_epochs

    sketches = read_epochs(spark, f"{out_base}/cms")
    epochs = [
        r["epoch_id"]
        for r in sketches.select("epoch_id").distinct()
        .orderBy(F.desc("epoch_id")).limit(last_k_epochs).collect()
    ]
    merged = (
        sketches.filter(F.col("epoch_id").isin(epochs))
        .groupBy("hash_row", "bucket")
        .agg(F.sum("weight").alias("weight"))
    )
    items = spark.createDataFrame([(t,) for t in probe_tokens], "token string")
    return cms_estimate(merged, items)


# ---------------------------------------------------------------------------
# stream-stream interval join (attribution)
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_MIN = 30


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    window_minutes: int = ATTRIBUTION_WINDOW_MIN,
    watermark: str = "60 minutes",
) -> DataFrame:
    """Per-user view→click attribution: every click joined to each view
    of the same user it follows within ``window_minutes`` — the
    stream-stream interval join (Structured Streaming's two-sided
    watermarked join; the reference has no streaming joins at all).

    Works identically on streaming or batch inputs: watermarks apply
    only when streaming, and bound BOTH join states — the event-time
    band lets Spark evict a view once the click watermark passes
    view_ts + window, so state is O(window x rate), not O(stream).
    Inner-join matches emit immediately; the watermark only gates
    state cleanup.
    """
    v = views.select(
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
    )
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        (
            (F.col("click_ts").cast("double") - F.col("view_ts").cast("double"))
        ).alias("lag_seconds"),
    )


def run_attribution_stream(
    spark,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    window_minutes: int = ATTRIBUTION_WINDOW_MIN,
) -> None:
    """Drive the attribution join with BOTH sides read from the same
    file stream (filtered into view/click substreams), append sink,
    availableNow drain."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    joined = attribution_join(views, clicks, window_minutes)
    (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
