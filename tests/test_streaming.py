"""Structured Streaming tests: each incremental query replayed over the
bounded events table (trigger availableNow -> memory sink) must produce
exactly the batch engine's answer for the same aggregation — the
streaming/batch unification contract."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


def run_to_memory(stream_df, mode="complete"):
    name = "m" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    out = spark.table(name).collect()
    q.stop()
    return out


def canon(rows):
    return sorted(tuple(str(v) for v in r) for r in rows)


@pytest.fixture(scope="module")
def events_batch(spark):
    from baseline_magician_spark.catalog import load_table

    return load_table(spark, SF_SMOKE, "events").cache()


@pytest.fixture(scope="module")
def events_stream(spark):
    from baseline_magician_spark.streaming import read_events_stream

    return read_events_stream(spark, SF_SMOKE)


def test_windowed_counts_match_batch(spark, events_batch, events_stream):
    from baseline_magician_spark.streaming import streaming_event_counts

    got = run_to_memory(streaming_event_counts(events_stream))
    want = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .collect()
    )
    assert canon(got) == canon(want)
    assert len(got) > 0


def test_streaming_baseline_matches_batch(spark, events_batch, events_stream):
    from baseline_magician_spark.plans.baseline import networks_dataframe
    from baseline_magician_spark.queries.baseline_q import (
        METRIC_MAP,
        NETWORKS,
        ip_expr_from_user_id,
    )
    from baseline_magician_spark.streaming import streaming_baseline_aggregate

    nets = networks_dataframe(spark, NETWORKS)
    got = run_to_memory(
        streaming_baseline_aggregate(
            events_stream, nets, METRIC_MAP, ip_expr_from_user_id()
        )
    )
    assert len(got) > 0

    b = events_batch.withColumn("_ip_long", ip_expr_from_user_id())
    joined = b.join(
        F.broadcast(nets),
        (F.col("_ip_long") >= F.col("start_long"))
        & (F.col("_ip_long") <= F.col("end_long")),
    )
    aggs = [F.count(F.lit(1)).alias("samples")] + [
        F.floor(
            F.avg(F.when(F.col("event_type") == et, F.col("value") * F.lit(s)))
        )
        .cast("long")
        .alias(m)
        for m, (et, s) in METRIC_MAP.items()
    ]
    want = (
        joined.groupBy(F.window("ts", "1 day").alias("w"), "network")
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            "network",
            "samples",
            *METRIC_MAP.keys(),
        )
        .collect()
    )
    assert canon(got) == canon(want)


def test_sessionize_matches_batch(spark, events_batch, events_stream):
    from baseline_magician_spark.streaming import streaming_sessionize

    got = run_to_memory(streaming_sessionize(events_stream))
    want = (
        events_batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .collect()
    )
    assert canon(got) == canon(want)
    assert len(got) > 0


def test_streaming_publish_hostgroups(spark, events_stream):
    """End-to-end streaming variant of the reference job: windowed
    aggregates -> threshold expressions -> REST sink per micro-batch
    (latest window only), against a fake API."""
    from test_sources_sinks import FakeApi

    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.plans.baseline import (
        compile_channel_expressions,
        networks_dataframe,
    )
    from baseline_magician_spark.queries.baseline_q import (
        METRIC_MAP,
        NETWORKS,
        ip_expr_from_user_id,
    )
    from baseline_magician_spark.streaming import streaming_baseline_aggregate
    from baseline_magician_spark.streaming.publish import (
        publish_hostgroups_stream,
    )

    api = FakeApi()
    cfg = BaselineConfig(
        generate_incoming_packet_threshold=True,
        incoming_packet_expression="value * 2",
    )
    nets = networks_dataframe(spark, NETWORKS)
    agg = streaming_baseline_aggregate(
        events_stream, nets, METRIC_MAP, ip_expr_from_user_id()
    )
    exprs = compile_channel_expressions(cfg.channel_expressions())
    q = (
        publish_hostgroups_stream(agg, exprs, cfg, transport=api)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    puts = [u for m, u in api.calls if m == "PUT"]
    assert puts, "expected hostgroup PUTs from the streaming sink"
    # per-network create + the reference's option sequence
    creates = [u for u in puts if u.count("/") == 4 and "/hostgroup/" in u]
    assert creates and all("/hostgroup/10_0_" in u for u in creates)
    assert any("/threshold_pps/" in u for u in puts)
    # delete-then-create overwrite per group (remove_existing=False path)
    deletes = [u for m, u in api.calls if m == "DELETE"]
    assert len(deletes) == len(creates)


def test_streaming_dedup_matches_batch_distinct(spark, events_batch, events_stream):
    from pyspark.sql import functions as F

    from baseline_magician_spark.streaming.dedup_join import streaming_dedup_keys

    stream_df = streaming_dedup_keys(events_stream)
    assert stream_df.isStreaming
    got = run_to_memory(stream_df, mode="append")
    want = events_batch.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("event_hour")
    ).distinct().collect()
    assert canon(got) == canon(want)


def test_stream_stream_join_matches_batch_join(spark, events_batch, events_stream):
    from pyspark.sql import functions as F

    from baseline_magician_spark.streaming.dedup_join import (
        streaming_click_purchase_join,
    )

    stream_df = streaming_click_purchase_join(events_stream)
    assert stream_df.isStreaming
    got = run_to_memory(stream_df, mode="append")

    c = events_batch.where(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts")
    )
    p = events_batch.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 6).alias("purchase_value"),
    )
    want = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("user_id", "click_ts", "purchase_ts", "purchase_value")
        .collect()
    )
    assert canon(got) == canon(want)


def test_watermark_finalizes_then_drops_late_data(spark, tmp_path):
    """Three-file replay pinning Spark's REAL late-data contract, which
    is eviction-based, not input-filtered: (1) a late row arriving
    while its window state is still live IS aggregated regardless of
    watermark; the guarantee is only that once the watermark passes a
    window's end and the state is evicted (emitted, append mode), a
    later row for that window is dropped and the window is never
    re-emitted. Batch 1 seeds hour-1 + advances the watermark past it;
    batch 2 triggers the eviction (emits hour-1); batch 3's 6-hours-
    late row must vanish — exactly one hour-1 output row, total 1.0."""
    import datetime as dt
    import shutil
    import time as _time

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        tmp = tmp_path / ("tmp_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), str(src / name))
        _time.sleep(1.1)  # distinct mtimes keep the replay order stable

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    write_file("a1.parquet", [(1, t0, 1.0), (2, t0 + dt.timedelta(hours=6), 1.0)])
    write_file("a2.parquet", [(3, t0 + dt.timedelta(hours=6, minutes=1), 1.0)])
    write_file("a3.parquet", [(4, t0 + dt.timedelta(minutes=5), 100.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "total")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3, "expected one batch per file"
    q.stop()
    rows = spark.table("wm_late").collect()
    hour1 = dt.datetime(2024, 1, 1, 0, 0)
    h1 = [r for r in rows if r["ws"] == hour1]
    assert len(h1) == 1 and h1[0]["total"] == 1.0, rows


def test_streaming_funnel_matches_batch_funnel(spark, tmp_path):
    """Multi-batch funnel: chain state must carry ACROSS micro-batches
    (view in batch 1, click in batch 2, purchase in batch 3 completes
    the chain; a second user's click lands outside the window). Final
    per-user max(level) equals the batch windowFunnel fold."""
    import datetime as dt
    import shutil
    import time as _time

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from baseline_magician_spark.functions.funnel import window_funnel
    from baseline_magician_spark.streaming.stateful import (
        streaming_funnel_levels,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        tmp = tmp_path / ("tmp_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        part = next(
            p for p in tmp.iterdir() if p.name.endswith(".parquet")
        )
        shutil.move(str(part), str(src / name))
        _time.sleep(1.1)

    t0 = dt.datetime(2024, 1, 1)

    def t(s):
        return t0 + dt.timedelta(seconds=s)

    rows_by_batch = [
        [(1, t(0), "view"), (2, t(0), "view")],
        [(1, t(30), "click"), (2, t(500), "click")],
        [(1, t(60), "purchase"), (2, t(600), "purchase")],
    ]
    for i, rows in enumerate(rows_by_batch):
        write_file(f"b{i}.parquet", rows)

    conds = [
        F.col("event_type") == x for x in ("view", "click", "purchase")
    ]
    stream = streaming_funnel_levels(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        100,
        conds,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("funnel_mb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3, "expected one batch per file"
    q.stop()
    final = {
        r["user_id"]: r["level"]
        for r in spark.table("funnel_mb")
        .groupBy("user_id")
        .agg(F.max("level").alias("level"))
        .collect()
    }
    # user 1 completes across three batches; user 2's click at +500s
    # falls outside the 100s window -> stuck at level 1
    assert final == {1: 3, 2: 1}
    # and the batch fold agrees
    batch = {
        r["user_id"]: r["lvl"]
        for r in spark.createDataFrame(
            [x for b in rows_by_batch for x in b], schema
        )
        .groupBy("user_id")
        .agg(window_funnel(100, F.col("ts"), *conds).alias("lvl"))
        .collect()
    }
    assert batch == final
