"""Streaming queries surfaced through the registry: each runs the
incremental plan over the bounded events replay (trigger availableNow ->
memory sink) and returns the materialized result, which the driver then
checks against a batch-SQL DuckDB oracle — the streaming/batch
unification contract as a correctness gate.

The session-window oracle is the classic gaps-and-islands rewrite:
a session breaks where ts - lag(ts) > gap; session_end = last ts + gap
(Spark's session_window end semantics).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..streaming.baseline_stream import (
    read_events_stream,
    streaming_baseline_aggregate,
    streaming_event_counts,
    streaming_sessionize,
)
from ..streaming.dedup_join import MAX_DELAY_MINUTES

GAP_SECONDS = 30 * 60


def _run_bounded(
    stream_df: DataFrame,
    mode: str = "complete",
    state_partitions: int = 8,
    no_data_batch: bool = True,
) -> DataFrame:
    """Run a streaming plan to completion (availableNow -> memory sink).

    ``state_partitions`` sizes the state-store layout: a streaming
    stateful operator opens/commits one store per shuffle partition
    per batch, a fixed cost that dwarfs the data work when partitions
    are sized for batch shuffles (32 partitions: 11.5s; 8: 2.6s for
    the stream-stream join at sf0.1). In production this number is
    pinned by the first checkpoint, chosen from keyspace size — state
    here is per-user/per-window, thousands of keys, so 8 is generous.
    The conf is restored after query start (it is captured at plan
    instantiation).

    ``no_data_batch=False`` skips the trailing empty micro-batch that
    advances the watermark after the last data batch. Complete-mode
    sinks re-emit the whole result every batch, so the extra batch
    buys nothing there — but APPEND-mode queries need it to finalize
    watermarked windows; leave it on for those.
    """
    spark = stream_df.sparkSession
    name = "stream_q_" + uuid.uuid4().hex[:12]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batch else "false",
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", before_ndmb
        )
    q.awaitTermination(300)
    q.stop()
    return spark.table(name)


_COUNTS_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@query("streaming_windowed_counts", _COUNTS_ORACLE)
def stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_bounded(streaming_event_counts(read_events_stream(spark, sf_dir)))


def _sessionize_oracle() -> str:
    return f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {GAP_SECONDS} SECOND
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {GAP_SECONDS} SECOND AS session_end,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """


@query("streaming_sessionize_gap", _sessionize_oracle())
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_bounded(streaming_sessionize(read_events_stream(spark, sf_dir)))


def _baseline_stream_oracle() -> str:
    from .baseline_q import IP_BASE, IP_SPREAD, METRIC_MAP, NETWORKS
    from ..functions.ip import parse_cidr_py

    nets_rows = ",\n      ".join(
        "('{}', {}, {})".format(*parse_cidr_py(c)[:3]) for c in NETWORKS
    )
    metric_aggs = ",\n      ".join(
        "CAST(floor(avg(CASE WHEN event_type = '{et}' THEN value * {scale} END)) "
        "AS BIGINT) AS {m}".format(m=m, et=et, scale=scale)
        for m, (et, scale) in METRIC_MAP.items()
    )
    metric_names = ", ".join(METRIC_MAP)
    return f"""
    WITH m AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
             {IP_BASE} + (user_id * {IP_SPREAD}) % 65536 AS ip_long,
             event_type, value
      FROM events
    ),
    nets(network, start_long, end_long) AS (VALUES
      {nets_rows}
    )
    SELECT window_start, n.network AS network,
           count(*) AS samples,
           {metric_aggs}
    FROM m JOIN nets n
      ON m.ip_long >= n.start_long AND m.ip_long <= n.end_long
    GROUP BY window_start, n.network
    """


@query("streaming_baseline_windows", _baseline_stream_oracle())
def stream_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .baseline_q import METRIC_MAP, NETWORKS, ip_expr_from_user_id
    from ..plans.baseline import networks_dataframe

    nets = networks_dataframe(spark, NETWORKS)
    # keyspace is windows x |networks| (~500 keys): 4 state partitions
    # halve the per-batch store open/commit count vs the default 8,
    # and complete mode needs no trailing no-data batch — this query's
    # cost is ~90% fixed streaming lifecycle, so the store/batch count
    # is the only real lever (r6 driver-bench regression analysis)
    return _run_bounded(
        streaming_baseline_aggregate(
            read_events_stream(spark, sf_dir),
            nets,
            METRIC_MAP,
            ip_expr_from_user_id(),
        ),
        state_partitions=4,
        no_data_batch=False,
    )


def _anomaly_oracle() -> str:
    """Batch window-function equivalent of the stateful stream, in the
    same exact integer-cents arithmetic (values are 2-decimal): flag
    when value_cents * prior_count > ANOMALY_K * prior_total_cents."""
    from ..streaming.stateful import ANOMALY_K

    return f"""
    WITH c AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, vc,
             sum(vc) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_cents,
             count(vc) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_cnt
      FROM c
    )
    SELECT user_id, event_id,
           vc / 100.0 AS value,
           prior_cents / (prior_cnt * 100.0) AS running_mean
    FROM w
    WHERE prior_cnt > 0 AND vc * prior_cnt > {ANOMALY_K} * prior_cents
    """


@query("streaming_stateful_anomalies", _anomaly_oracle())
def stream_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_anomaly_flags

    return _run_bounded(
        streaming_anomaly_flags(read_events_stream(spark, sf_dir)),
        mode="append",
    )


_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type,
       date_trunc('hour', ts) AS event_hour
FROM events
"""


@query("streaming_dedup_keys", _DEDUP_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_join import streaming_dedup_keys

    return _run_bounded(
        streaming_dedup_keys(read_events_stream(spark, sf_dir)),
        mode="append",
    )


_SS_JOIN_ORACLE = f"""
SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
       round(p.value, 6) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL {MAX_DELAY_MINUTES} MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


@query("streaming_click_purchase_join", _SS_JOIN_ORACLE)
def stream_ss_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_join import streaming_click_purchase_join

    return _run_bounded(
        streaming_click_purchase_join(read_events_stream(spark, sf_dir)),
        mode="append",
    )


_ROLLUP_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("streaming_hourly_rollup_merge", _ROLLUP_ORACLE)
def streaming_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest folding into a standing rollup: the events
    table is replayed as FOUR micro-batches (maxFilesPerTrigger=1 over
    a 4-file copy), each batch computes its hourly partial aggregate
    DISTRIBUTED, and foreachBatch merges the partials into keyspace-
    sized state — the streaming twin of events_hourly_rollup_
    incremental, hash-matched against the same direct batch rollup.

    Scale shape: per batch, one (hour, type) shuffle over the batch
    only; the merge target is |hours|x|types| rows (a storage table in
    production, a driver dict here), never the event history. This is
    the exactly-once merge-on-read ingest pattern for 100 TB event
    streams: batch N's cost is O(batch), not O(history)."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="bms_ev_stream_")
    try:
        ev.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state: dict[tuple, list] = {}

        def handle(batch_df: DataFrame, _bid: int) -> None:
            part = (
                batch_df.groupBy(
                    F.date_trunc("hour", F.col("ts")).alias("hour"),
                    "event_type",
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("sv"),
                )
                .collect()
            )
            for r in part:
                k = (r["hour"], r["event_type"])
                acc = state.setdefault(k, [0, 0.0])
                acc[0] += r["n"]
                if r["sv"] is not None:  # all-NULL group sums to NULL
                    acc[1] += r["sv"]

        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            # a timed-out replay has merged only a PREFIX of the
            # batches — returning it would pass off a partial rollup
            # as the answer
            raise TimeoutError(
                "streaming rollup replay did not finish within 300s"
            )
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)

    rows = [
        (hour, etype, int(n), float(sv))
        for (hour, etype), (n, sv) in state.items()
    ]
    return spark.createDataFrame(
        rows, "hour timestamp, event_type string, n long, total_value double"
    ).select(
        "hour", "event_type", "n",
        F.round(F.col("total_value"), 2).alias("total_value"),
    )


_CMS_MERGE_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
       TRUE AS cms_within_bounds
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 20
"""


@query("streaming_cms_merge", _CMS_MERGE_ORACLE)
def streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: each micro-batch builds its own
    (row, bucket, cnt) cell table DISTRIBUTED and foreachBatch merges
    the cells ADDITIVELY into standing sketch state — the mergeability
    that makes CMS the sketch of choice for 100 TB streams (per-batch
    sketches of disjoint data sum cell-wise to the sketch of the
    union, exactly). The hash-checked columns are the exact per-user
    counts; the merged sketch earns its hard signal through
    ``cms_within_bounds``: never-underestimate + the slack-scaled
    n/width overestimate envelope (oracle emits constant TRUE), which
    only holds if the cell-wise merge preserved CMS semantics.

    Scale shape: per batch one uniform (row, bucket) shuffle over the
    BATCH only; the merge target is depth*width cells (a few KB) —
    batch cost is O(batch), state is O(sketch), never O(history)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..operators.text import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_cells,
        count_min_sketch,
    )

    depth, width, slack = CMS_DEPTH, CMS_WIDTH, 8

    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="bms_cms_stream_")
    try:
        ev.repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        cells_state: dict[tuple[int, int], int] = {}

        def handle(batch_df: DataFrame, _bid: int) -> None:
            keys = batch_df.select(
                F.col("user_id").cast("string").alias("s")
            )
            sketch, _probe = count_min_sketch(keys)
            for r in sketch.collect():
                k = (r["row"], r["bucket"])
                cells_state[k] = cells_state.get(k, 0) + int(r["cnt"])

        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            raise TimeoutError(
                "streaming CMS replay did not finish within 300s"
            )
    finally:
        shutil.rmtree(src, ignore_errors=True)

    merged = spark.createDataFrame(
        [(r, b, n) for (r, b), n in cells_state.items()],
        "row int, bucket long, cnt long",
    )
    exact = (
        ev.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(20)
    )
    total = ev.agg(F.count(F.lit(1)).alias("_n"))
    probes = exact.withColumn(
        "_c",
        F.explode(
            cms_cells(F.col("user_id").cast("string"), depth, width)
        ),
    )
    est = (
        probes.join(
            F.broadcast(merged),
            (F.col("_c.row") == F.col("row"))
            & (F.col("_c.bucket") == F.col("bucket")),
            "left",
        )
        .groupBy("user_id", "n_events")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("_est")
        )
    )
    within = (F.col("_est") >= F.col("n_events")) & (
        F.col("_est") <= F.col("n_events") + slack * F.col("_n") / width
    )
    return est.crossJoin(F.broadcast(total)).select(
        "user_id", "n_events", within.alias("cms_within_bounds")
    )


FUNNEL_WINDOW_SECONDS = 14400


def _funnel_oracle() -> str:
    """Batch equivalent of the streaming funnel DP: for the default
    mode, 'reached level k' == an EXISTS chain e1 <= ... <= ek with
    t_k <= t_1 + window (see functions/funnel.py for the proof)."""
    w = FUNNEL_WINDOW_SECONDS
    return f"""
    WITH u AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id, CASE
      WHEN EXISTS (
        SELECT 1 FROM events e1
        JOIN events e2 ON e2.user_id = e1.user_id
        JOIN events e3 ON e3.user_id = e1.user_id
        WHERE e1.user_id = u.user_id
          AND e1.event_type = 'view' AND e2.event_type = 'click'
          AND e3.event_type = 'purchase'
          AND e1.ts <= e2.ts AND e2.ts <= e3.ts
          AND e3.ts <= e1.ts + INTERVAL {w} SECOND) THEN 3
      WHEN EXISTS (
        SELECT 1 FROM events e1
        JOIN events e2 ON e2.user_id = e1.user_id
        WHERE e1.user_id = u.user_id
          AND e1.event_type = 'view' AND e2.event_type = 'click'
          AND e1.ts <= e2.ts
          AND e2.ts <= e1.ts + INTERVAL {w} SECOND) THEN 2
      WHEN EXISTS (
        SELECT 1 FROM events e1
        WHERE e1.user_id = u.user_id
          AND e1.event_type = 'view') THEN 1
      ELSE 0 END AS level
    FROM u
    """


@query("streaming_funnel_levels", _funnel_oracle())
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowFunnel over the bounded replay: per-user chain
    state folds forward batch by batch; the sink's max(level) per user
    (level is monotone) must equal the batch windowFunnel — and the
    DuckDB EXISTS-chain oracle."""
    from pyspark.sql import functions as F

    from ..streaming.stateful import streaming_funnel_levels

    ev = read_events_stream(spark, sf_dir)
    conds = [
        F.col("event_type") == t for t in ("view", "click", "purchase")
    ]
    sink = _run_bounded(
        streaming_funnel_levels(ev, FUNNEL_WINDOW_SECONDS, conds),
        mode="update",
    )
    return sink.groupBy("user_id").agg(F.max("level").alias("level"))
