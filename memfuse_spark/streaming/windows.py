"""Gap-based session windows and view→click attribution.

The reference sessionizes implicitly (its buffers key on session_id and
flush on triggers — ``buffer/round_buffer.py``); Spark gets gap-based
sessionization natively from ``F.session_window``: per-key windows that
extend while events arrive within the gap.

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
) -> DataFrame:
    """Per-(key, session-window) rollup: n events, value sum, window
    bounds."""
    return (
        events.groupBy(
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


# ---------------------------------------------------------------------------
# interval join (attribution)
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_MIN = 30


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    window_minutes: int = ATTRIBUTION_WINDOW_MIN,
) -> DataFrame:
    """Per-user view→click attribution: every click joined to each view
    of the same user it follows within ``window_minutes`` — an
    event-time interval join (the reference has no such join)."""
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
