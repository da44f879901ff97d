"""The flagship query: the reference's whole pipeline on the test data.

The `events` table stands in for the reference's `host_metrics` fact
table (TESTDATA has no host_metrics): each event row becomes a
(host, metricDateTime, metric...) sample via a deterministic adapter —
host IPs spread over 10.0.0.0/16 by a Knuth multiplicative hash of
user_id, metric columns pivoted from event_type. The plan itself is
the real engine path (plans.baseline.generate_hostgroups): time-window
filter -> broadcast range join -> one-pass multi-aggregate ->
threshold expressions -> hostgroup rows.

The DuckDB oracle is generated from the SAME channel/metric specs by
`_oracle()` below, so Spark plan and oracle cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..config import BaselineConfig
from ..functions.ip import long_to_ip4, parse_cidr_py
from ..plans.baseline import (
    REFERENCE_CHANNELS,
    generate_hostgroups,
    networks_dataframe,
)
from ..registry import query

IP_BASE = 167772160  # 10.0.0.0
IP_SPREAD = 2654435761  # Knuth multiplicative hash constant

# metric column -> (event_type, scale): the events->host_metrics adapter.
METRIC_MAP: dict[str, tuple[str, float]] = {
    "packets_incoming": ("click", 1.0),
    "packets_outgoing": ("view", 1.0),
    "bits_incoming": ("purchase", 1048576.0),
    "bits_outgoing": ("error", 1048576.0),
    "flows_incoming": ("signup", 1.0),
    "flows_outgoing": ("signup", 2.0),
}

METRIC_COLS = tuple(METRIC_MAP)

NETWORKS = [f"10.0.{i * 16}.0/20" for i in range(16)]

# channel -> govaluate-style expression over `value` (README.md:26-30
# uses exactly this vocabulary: value * 2, value * 3, value + 200).
CHANNEL_EXPRS: dict[str, str] = {
    "incoming_packets": "value * 2",
    "outgoing_packets": "value * 3",
    "incoming_bits": "value + 200",
    "outgoing_bits": "value * 1.5",
    "incoming_flows": "value * 2",
    "outgoing_flows": "value + 10",
}

WINDOW_SECONDS = 7 * 24 * 3600


def _column_expressions():
    """CHANNEL_EXPRS compiled to Column functions by the expression
    engine (govaluate-compatible front end -> Catalyst-folded Columns)."""
    from ..plans.baseline import compile_channel_expressions

    return compile_channel_expressions(CHANNEL_EXPRS)


def ip_expr_from_user_id() -> Column:
    """The events->host adapter's deterministic user->ip mapping:
    IP_BASE + (user_id * IP_SPREAD) % 65536."""
    return F.lit(IP_BASE) + (F.col("user_id") * F.lit(IP_SPREAD)) % F.lit(65536)


def events_as_host_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapter: events -> host_metrics-shaped fact frame.

    Adds a constant ``now_ts`` column (max event ts) so the 7-day
    window is deterministic; the production path would use
    F.current_timestamp() (reference main.go:275 uses now()).
    """
    ev = load_table(spark, sf_dir, "events")
    now_df = ev.agg(F.max("ts").alias("now_ts"))
    ip_long = ip_expr_from_user_id()
    cols = [
        long_to_ip4(ip_long).alias("host"),
        # carry the numeric form too: the plan's range join uses it
        # directly instead of re-parsing the dotted string per row
        # (ip4_to_long(long_to_ip4(x)) == x — lossless)
        ip_long.alias("_ip_long"),
        F.col("ts").alias("metricDateTime"),
        F.col("now_ts"),
    ]
    for metric, (etype, scale) in METRIC_MAP.items():
        cols.append(
            F.when(F.col("event_type") == etype, F.col("value") * F.lit(scale)).alias(metric)
        )
    return ev.crossJoin(F.broadcast(now_df)).select(*cols)


def _flagship(
    spark: SparkSession, sf_dir: str, use_bucketed_join: bool = False
) -> DataFrame:
    metrics = events_as_host_metrics(spark, sf_dir)
    networks = networks_dataframe(spark, NETWORKS)
    config = BaselineConfig(aggregation_function="avg")
    out = generate_hostgroups(
        metrics,
        networks,
        _column_expressions(),
        config,
        metric_cols=METRIC_COLS,
        host_col="host",
        time_col="metricDateTime",
        now=F.col("now_ts"),
        use_bucketed_join=use_bucketed_join,
    )
    ordered = ["network", "hostgroup_name", "samples", *METRIC_COLS]
    for ch in REFERENCE_CHANNELS:
        ordered += [ch.threshold_col, ch.ban_col]
    return out.select(*ordered)


def _flagship_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100k-networks scale path: prefix-bucket equi-join instead of
    the broadcast nested-loop range join; must be value-identical
    (same oracle as baseline_thresholds)."""
    return _flagship(spark, sf_dir, use_bucketed_join=True)


def _oracle() -> str:
    """Generate the DuckDB oracle from the same specs as the Spark plan."""
    nets_rows = ",\n      ".join(
        "('{}', {}, {})".format(*parse_cidr_py(c)[:3]) for c in NETWORKS
    )
    metric_aggs = ",\n      ".join(
        "CAST(floor(avg(CASE WHEN event_type = '{et}' THEN value * {scale} END)) AS BIGINT)"
        " AS {m}".format(m=m, et=et, scale=scale)
        for m, (et, scale) in METRIC_MAP.items()
    )
    # threshold math mirrors apply_thresholds: value(double) -> expr ->
    # cast_to_uint (NULL/negative -> 0, else floor) -> mbps intdiv.
    thr_cols = []
    for ch in REFERENCE_CHANNELS:
        expr = CHANNEL_EXPRS[ch.name].replace(
            "value", f"CAST({ch.source_col} AS DOUBLE)"
        )
        uint = (
            f"(CASE WHEN ({expr}) IS NULL OR ({expr}) < 0 THEN 0 "
            f"ELSE CAST(floor({expr}) AS BIGINT) END)"
        )
        thr = (
            f"CAST(floor(floor({uint} / 1024.0) / 1024.0) AS BIGINT)"
            if ch.mbps
            else uint
        )
        thr_cols.append(f"{thr} AS {ch.threshold_col}")
        thr_cols.append(f"({thr}) > 0 AS {ch.ban_col}")
    thr_sql = ",\n      ".join(thr_cols)
    metric_names = ", ".join(METRIC_COLS)
    return f"""
    WITH now_t AS (SELECT max(ts) AS now_ts FROM events),
    m AS (
      SELECT {IP_BASE} + (user_id * {IP_SPREAD}) % 65536 AS ip_long,
             ts, event_type, value
      FROM events, now_t
      WHERE ts >= now_ts - INTERVAL {WINDOW_SECONDS} SECOND
    ),
    nets(network, start_long, end_long) AS (VALUES
      {nets_rows}
    ),
    agg AS (
      SELECT n.network AS network,
      count(*) AS samples,
      {metric_aggs}
      FROM m JOIN nets n
        ON m.ip_long >= n.start_long AND m.ip_long <= n.end_long
      GROUP BY n.network
    )
    SELECT network,
      replace(replace(network, '.', '_'), '/', '_') AS hostgroup_name,
      samples, {metric_names},
      {thr_sql}
    FROM agg
    WHERE samples > 0
    """


query("baseline_thresholds", _oracle())(_flagship)
query("baseline_thresholds_bucketed_join", _oracle())(_flagship_bucketed)
