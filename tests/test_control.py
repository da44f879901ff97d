"""Execution-control layer: settings mapping, job-group tagging,
timeout cancellation, progress sampling."""

from __future__ import annotations

import time

import pytest


def test_apply_query_settings_maps_and_returns_unmapped(spark):
    from baseline_magician_spark.control import apply_query_settings

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        unmapped = apply_query_settings(
            spark,
            {
                "max_threads": 16,
                "max_bytes_before_external_sort": 1 << 30,
                "totally_unknown_setting": 1,
            },
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
        assert set(unmapped) == {
            "max_bytes_before_external_sort",
            "totally_unknown_setting",
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_job_group_tags_and_clears(spark):
    from baseline_magician_spark.control import job_group

    with job_group(spark, "qid-123", "test query"):
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == "qid-123"
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") in ("", None)


def test_run_with_timeout_cancels_long_job(spark):
    from baseline_magician_spark.control import QueryCancelled, run_with_timeout

    def slow(x):
        time.sleep(0.5)
        return x

    from pyspark.sql import functions as F

    slow_udf = F.udf(slow, "long")
    df = spark.range(0, 256, 1, 8).select(slow_udf("id").alias("v"))

    t0 = time.monotonic()
    with pytest.raises(QueryCancelled):
        run_with_timeout(spark, lambda: df.collect(), 2.0, "slow-query")
    # 256 rows x 0.5s / 8 threads = 16s uncancelled; must stop well short
    assert time.monotonic() - t0 < 10


def test_run_with_timeout_passes_result(spark):
    from baseline_magician_spark.control import run_with_timeout

    out = run_with_timeout(spark, lambda: spark.range(10).count(), 60.0, "fast")
    assert out == 10


def test_progress_monitor_samples(spark):
    from baseline_magician_spark.control import ProgressMonitor
    from pyspark.sql import functions as F

    with ProgressMonitor(spark, interval_seconds=0.05) as mon:
        (
            spark.range(0, 2_000_000, 1, 16)
            .groupBy((F.col("id") % 1024).alias("k"))
            .count()
            .count()
        )
    assert len(mon.samples) > 0
    assert max(s.completed_tasks + s.active_tasks for s in mon.samples) >= 0


def test_approx_stats_error_bounds(spark):
    """The approx query now carries its own error-bound check: the
    hash-matched columns are exact, and ``approx_within_bounds`` is the
    sketches' hard signal (HLL within 5%, approx percentiles inside the
    ±1%-rank envelope) — it must be True for every group."""
    from conftest import SF_ORACLE
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.registry import get_queries
    from pyspark.sql import functions as F

    rows = {
        r.event_type: r
        for r in get_queries()["approx_distinct_and_quantiles"](
            spark, SF_ORACLE
        ).collect()
    }
    events = load_table(spark, SF_ORACLE, "events")
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    assert set(rows) == set(exact)
    for et, a in rows.items():
        assert a.approx_within_bounds is True, et
        assert a.exact_users == exact[et].users, et


def test_every_reference_setting_classifies():
    """C5 breadth: every setting in the driver's passthrough list
    (ch/query_settings.go:28-217, vendored verbatim as
    tests/test_settings_audit.py::REFERENCE_QUERY_SETTINGS) must
    classify — an explicit mapping or a category note; no reference
    setting may be 'unknown'."""
    from baseline_magician_spark.control import (
        QUERY_SETTINGS_MAP,
        classify_setting,
    )
    from tests.test_settings_audit import REFERENCE_QUERY_SETTINGS

    names = REFERENCE_QUERY_SETTINGS
    assert len(names) >= 180  # the full list, not a subset
    for n in names:
        conf, note = classify_setting(n)
        assert note, n
    # explicit entries must stay inside the reference list (no made-up
    # settings) except the compression pair that arrives via the DSN
    dsn_settings = {"network_compression_method", "network_zstd_compression_level"}
    for n in QUERY_SETTINGS_MAP:
        assert n in names or n in dsn_settings, n


def test_apply_query_settings_maps_and_coerces(spark):
    from baseline_magician_spark.control import apply_query_settings

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        unmapped = apply_query_settings(
            spark,
            {
                "max_threads": 24,
                "compile_expressions": 1,           # 0/1 -> true/false
                "use_uncompressed_cache": 1,        # inverted polarity
                "max_memory_usage": 10**10,         # note-only -> unmapped
                "totally_unknown_setting": 5,       # forward-unknown
            },
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "24"
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
        assert (
            spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed")
            == "false"
        )
        assert set(unmapped) == {"max_memory_usage", "totally_unknown_setting"}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "true")
