"""Streaming deduplication and stream-stream joins — the remaining
Structured Streaming operator families (complementing windowed aggs,
session windows, stream-static joins, and applyInPandasWithState in
baseline_stream.py / stateful.py).

Reference parity: the reference is strictly batch (SURVEY §2.9 — no
watermarks/state anywhere; closest artifact is the pipelined block
channel, vendor/.../rows.go:82-141). These are north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "2 hours"
# a purchase is attributed to a click at most this long before it
MAX_DELAY_MINUTES = 30


def streaming_dedup_keys(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type, event hour).

    Emits each key the first time it is seen and never again — the
    streaming analogue of DISTINCT, e.g. collapsing an at-least-once
    ingest to effectively-once. Only the key columns are emitted, so
    the result is order-independent and equals batch DISTINCT on any
    bounded replay.

    State note: plain ``dropDuplicates`` keeps every seen key in the
    state store forever (exact, unbounded). In production, swap in
    ``dropDuplicatesWithinWatermark`` to bound state at the cost of
    only-within-watermark dedup guarantees; the plan shape downstream
    is identical.
    """
    keyed = (
        events.withWatermark("ts", WATERMARK)
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("event_hour"),
        )
    )
    return keyed.dropDuplicates(["user_id", "event_type", "event_hour"])


def streaming_click_purchase_join(
    events: DataFrame,
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a click by the
    same user within MAX_DELAY_MINUTES before the purchase.

    Both sides carry watermarks and the join condition bounds event
    time on both sides — exactly what Spark needs to GC join state (a
    click older than watermark + delay can never match again). On a
    bounded replay the inner join equals the batch join, which is the
    oracle contract.

    Scale: state is per-user and bounded by the time window; the join
    key (user_id) is the shuffle key on both sides.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts")
            + F.expr(f"INTERVAL {MAX_DELAY_MINUTES} MINUTES")
        ),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 6).alias("purchase_value"),
    )
