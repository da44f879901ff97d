"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the arbitrary-state slot (SURVEY §2.9/§2.10 extension surface) that
built-in windows can't express in general.

Operator: per-user running-mean anomaly detection. State per user =
(count, total); an event is flagged when its value exceeds
``k x running mean of all PRIOR events`` of that user. Events are
processed in (ts, event_id) order within each micro-batch and state
carries across batches, so the stream result equals the batch
window-function computation — which is both the test and the DuckDB
oracle (avg OVER (... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
PRECEDING)).

Scale shape: state is two numbers per user, the shuffle key is
user_id (uniform), and Arrow batches flow through pandas per group —
the same plumbing any custom sketch/model-state operator would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pyship import ensure_shipped

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("running_mean", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


# An event is anomalous above ANOMALY_K x its user's prior running mean.
ANOMALY_K = 3


def streaming_anomaly_flags(events: DataFrame) -> DataFrame:
    """Flag events with value > ANOMALY_K * running mean of the user's prior
    events. Output: (user_id, event_id, value, running_mean — the mean
    BEFORE the flagged event).

    Exact-arithmetic design: event values are 2-decimal, so state
    accumulates integer CENTS and the flag predicate is the integer
    comparison ``value_cents * prior_count > ANOMALY_K *
    prior_total_cents`` —
    no floating-point accumulation anywhere, so the result is
    bit-identical to any engine computing the same definition
    (ANOMALY_K must be an integer for this exactness).

    Ordering precondition: events are folded into state in (ts,
    event_id) order WITHIN each micro-batch only — the equality with
    the batch window-oracle (``ROWS UNBOUNDED PRECEDING .. 1
    PRECEDING``) holds when the replay delivers batches in event-time
    order (one-file availableNow, ordered file drops, or an upstream
    ordered source). A cross-batch out-of-order event folds at arrival
    position — the standard tradeoff for single-pass streaming state;
    use the batch window query for retrospective exactness over
    unordered history.
    """
    ensure_shipped(events.sparkSession)

    def flag(key, pdfs, state: GroupState):
        import pandas as pd

        cnt, total_cents = state.get if state.exists else (0, 0)
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values(["ts", "event_id"])
        out_rows = []
        for r in batch.itertuples():
            vc = int(round(float(r.value) * 100))
            if cnt > 0 and vc * cnt > ANOMALY_K * total_cents:
                out_rows.append(
                    (
                        int(key[0]),
                        int(r.event_id),
                        vc / 100.0,
                        total_cents / (cnt * 100.0),
                    )
                )
            cnt += 1
            total_cents += vc
        state.update((cnt, total_cents))
        yield pd.DataFrame(
            out_rows, columns=["user_id", "event_id", "value", "running_mean"]
        )

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            flag, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("level", T.IntegerType()),
    ]
)


def streaming_funnel_levels(
    events: DataFrame,
    window_seconds: int,
    conds,
) -> DataFrame:
    """Streaming windowFunnel: the per-user funnel level, updated per
    micro-batch (``update`` output mode — one (user_id, level) row per
    user per batch that touched them; level is monotone nondecreasing,
    so ``max(level)`` per user over the sink is the final level).

    The batch ``windowFunnel`` DP (functions/funnel.py) is a
    single-pass algorithm by construction, which makes it NATIVELY
    streaming: state per user is just the K chain-start timestamps
    (-1 = level unreached), folded forward one event at a time —
    identical transitions to the batch fold, so the stream result
    equals ``windowFunnel(window)(ts, conds...)`` computed over the
    full history (the DuckDB oracle), under the same in-order replay
    precondition as streaming_anomaly_flags.

    Scale shape: state is K longs per user, shuffle key is user_id
    (uniform); conditions are evaluated as Spark Columns BEFORE the
    stateful stage, so Python folds only (t, K booleans) rows.
    """
    ensure_shipped(events.sparkSession)
    from pyspark.sql import functions as F

    k = len(conds)
    if not 1 <= k <= 5:
        raise ValueError("windowFunnel takes 1..5 conditions")
    win_us = int(window_seconds) * 1_000_000
    state_schema = T.StructType(
        [T.StructField(f"s{i}", T.LongType()) for i in range(k)]
    )
    sel = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        *[
            F.coalesce(c.cast("boolean"), F.lit(False)).alias(f"c{i}")
            for i, c in enumerate(conds)
        ],
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        starts = list(state.get) if state.exists else [-1] * k
        batch = pd.concat(list(pdfs)).sort_values("t")
        for r in batch.itertuples():
            t = int(r.t)
            # same-event conditions cascade in index order against
            # the JUST-updated lower level — the batch DP's semantics
            if r.c0:
                starts[0] = t
            for i in range(1, k):
                prev = starts[i - 1]
                if (
                    getattr(r, f"c{i}")
                    and prev >= 0
                    and t - prev <= win_us
                ):
                    starts[i] = prev
        state.update(tuple(starts))
        level = sum(1 for s in starts if s >= 0)
        yield pd.DataFrame(
            [(int(key[0]), level)], columns=["user_id", "level"]
        )

    return sel.groupBy("user_id").applyInPandasWithState(
        fold,
        FUNNEL_OUT_SCHEMA,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
