"""Session windows and view→click attribution against their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


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
