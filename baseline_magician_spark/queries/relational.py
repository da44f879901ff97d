"""Relational operator coverage: window functions, rollup/totals,
set operations, semi/anti joins, distinct aggregation, pivot, sort/limit,
time-window filtering, and the IP function surface.

These cover the operator categories SURVEY.md §2.5-2.8 lists (including
the ones ABSENT from the reference but required of a complete engine),
each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.ip import ip4_to_long, long_to_ip4
from ..registry import query


@query(
    "window_topn_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rn <= 3
    """,
)
def window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@query(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total,
           lag(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS prev_orderkey
    FROM orders
    WHERE o_custkey < 100
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@query(
    "rollup_totals_by_region_nation",
    """
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH TOTALS equivalent (SURVEY §2.5): rollup produces the per-group
    rows plus subtotal/grand-total rows the CH protocol would stream as
    the Totals packet."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_balance",
        )
    )


@query(
    "extremes_value_by_type",
    """
    SELECT event_type,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTREMES result-set equivalent (SURVEY §2.5)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "set_ops_customer_tiers",
    """
    SELECT 'rich_building' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    UNION ALL
    SELECT 'rich_not_building' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    rich = cust.where(F.col("c_acctbal") > 5000).select("c_custkey")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.intersect(building).select(
        F.lit("rich_building").alias("tag"), "c_custkey"
    ).unionAll(
        rich.exceptAll(building).distinct().select(
            F.lit("rich_not_building").alias("tag"), "c_custkey"
        )
    )


@query(
    "semi_anti_join_customers",
    """
    SELECT 'active' AS tag, c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    UNION ALL
    SELECT 'dormant' AS tag, c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hostgroup-overwrite shape (SURVEY §2.6): semi join = keep
    existing, anti join = compute removals/creations."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    active = cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_semi"
    ).select(F.lit("active").alias("tag"), "c_custkey")
    dormant = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("dormant").alias("tag"), "c_custkey")
    return active.unionAll(dormant)


@query(
    "distinct_users_by_type",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS distinct_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "pivot_quantity_by_status",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


@query(
    "time_window_recent_events",
    """
    WITH now_t AS (SELECT max(ts) AS now_ts FROM events)
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events, now_t
    WHERE ts >= now_ts - INTERVAL 604800 SECOND
    GROUP BY event_type
    """,
)
def time_window_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 parity: the reference's 7-day window filter (main.go:275)."""
    ev = load_table(spark, sf_dir, "events")
    now_df = ev.agg(F.max("ts").alias("now_ts"))
    return (
        ev.crossJoin(F.broadcast(now_df))
        .where(
            F.col("ts")
            >= F.col("now_ts") - F.make_dt_interval(secs=F.lit(604800))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "ip_function_roundtrip",
    """
    SELECT DISTINCT
      user_id,
      167772160 + (user_id * 2654435761) % 65536 AS ip_long,
      printf('%d.%d.%d.%d',
             ((167772160 + (user_id * 2654435761) % 65536) // 16777216) % 256,
             ((167772160 + (user_id * 2654435761) % 65536) // 65536) % 256,
             ((167772160 + (user_id * 2654435761) % 65536) // 256) % 256,
             (167772160 + (user_id * 2654435761) % 65536) % 256) AS host,
      TRUE AS roundtrip_ok
    FROM events
    """,
)
def ip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/X3-X5 parity: IPv4StringToNum / NumToString round-trip as pure
    Column arithmetic (no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    ip_long = (
        F.lit(167772160) + (F.col("user_id") * F.lit(2654435761)) % F.lit(65536)
    ).alias("ip_long")
    out = ev.select("user_id", ip_long).distinct()
    out = out.withColumn("host", long_to_ip4(F.col("ip_long")))
    return out.withColumn(
        "roundtrip_ok", ip4_to_long(F.col("host")) == F.col("ip_long")
    )


@query(
    "skew_salted_join_event_types",
    """
    WITH dim AS (
      SELECT DISTINCT event_type, length(event_type) AS type_len FROM events
    )
    SELECT e.event_type, count(*) AS n_events,
           round(sum(e.value * d.type_len), 6) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximally-skewed join key (5 hot event types over the whole fact
    table) through the salted join; oracle is the plain unsalted join —
    salting must not change results."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    dim = (
        events.select("event_type")
        .distinct()
        .withColumn("type_len", F.length("event_type"))
    )
    return (
        salted_join(events, dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("type_len")), 6).alias(
                "weighted_value"
            ),
        )
    )


@query(
    "skew_salted_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS distinct_user_id
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salt-partitioned distinct count (value space split by
    hash(v) % S, per-salt distincts sum exactly)."""
    from ..operators.skew import salted_distinct_count

    events = load_table(spark, sf_dir, "events")
    return salted_distinct_count(events, ["event_type"], "user_id")


@query(
    "approx_distinct_and_quantiles",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           quantile_cont(value, 0.5) AS p50_exact,
           quantile_cont(value, 0.99) AS p99_exact,
           TRUE AS approx_within_bounds
    FROM events GROUP BY event_type
    """,
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH uniq()/quantile() equivalents (HyperLogLog++ / KLL-style
    sketches). Sketch outputs are not hash-stable across engines by
    construction, so the hash-checked columns are the EXACT answers and
    the sketches earn their hard signal through
    ``approx_within_bounds``: HLL (rsd 2%) within 5% of the exact
    distinct, approx percentiles (accuracy 10000, rank error 0.01%)
    inside the exact [p-1%, p+1%] rank envelope. The oracle emits
    constant TRUE — any sketch drift outside the bound hash-mismatches
    the row."""
    events = load_table(spark, sf_dir, "events")
    # ONE exact-percentile aggregate (array of percentages -> one sort
    # buffer per group) and ONE approx sketch — not per-quantile aggs,
    # which would buffer the group 5x over.
    #
    # The exact distinct count runs as its OWN aggregation joined back
    # on the group key (optimization round 11, guide §2.3): mixing
    # countDistinct with buffer-backed aggregates makes Catalyst's
    # distinct rewrite key the partial aggregation by
    # (event_type, user_id) — and every one of those ~|users| groups
    # then carries the full percentile buffer + HLL registers + KLL
    # sketch (a 414-column partial row observed in the plan, ~40M
    # buffer cells shuffled at sf0.1; catastrophic at corpus scale).
    # Split, each aggregation shuffles only its own tiny state; the
    # join key is the handful of event types, broadcast by AQE.
    # Measured noop exec 2.96 -> 0.6 s at sf0.1; results identical.
    # null-safe join (ADVICE r11 #1): a NULL event_type is a real
    # GROUP BY group; a plain equi-join would silently drop it (latent
    # today — the generated data has no NULL event_type — but the
    # split must not change semantics for any input).
    distinct_users = events.groupBy(
        F.col("event_type").alias("_et")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    agg = (
        events.groupBy("event_type")
        .agg(
            F.percentile(
                "value", F.lit([0.5, 0.99, 0.49, 0.51, 0.985, 0.995])
            ).alias("_pcts"),
            F.approx_count_distinct(
                "user_id", rsd=0.02
            ).alias("_approx_users"),
            F.percentile_approx(
                "value", F.lit([0.5, 0.99]), 10000
            ).alias("_apcts"),
        )
        .join(
            distinct_users,
            F.col("event_type").eqNullSafe(F.col("_et")),
        )
        .drop("_et")
    )
    p = {
        "p50": F.col("_pcts")[0], "p99": F.col("_pcts")[1],
        "p50_lo": F.col("_pcts")[2], "p50_hi": F.col("_pcts")[3],
        "p99_lo": F.col("_pcts")[4], "p99_hi": F.col("_pcts")[5],
        "ap50": F.col("_apcts")[0], "ap99": F.col("_apcts")[1],
    }
    within = (
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        )
        & p["ap50"].between(p["p50_lo"], p["p50_hi"])
        & p["ap99"].between(p["p99_lo"], p["p99_hi"])
    )
    return agg.select(
        "event_type",
        "exact_users",
        p["p50"].alias("p50_exact"),
        p["p99"].alias("p99_exact"),
        within.alias("approx_within_bounds"),
    )


@query(
    "cube_revenue_by_flag_status",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations (the WITH TOTALS
    generalization, SURVEY §2.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "grouping_sets_quantity",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicator columns (needed
    to disambiguate NULL-as-total from NULL data)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@query(
    "exact_percentiles_by_type",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation) per group — both
    engines implement the same (n-1)*p definition, so values
    hash-match; contrast with the sketch-based approx query."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
    )


@query(
    "histogram_event_values",
    """
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events GROUP BY 1
    """,
)
def histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — one groupBy on a map-side bucket key."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.floor(F.col("value") / 25.0).cast("long").alias("bucket"), "value"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@query(
    "window_range_frame_sliding_sum",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_cents,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_events
    FROM events
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per event, the trailing-hour sum
    and count for that user — a true value-based frame (all rows within
    3600s), not a row-count frame. Summed in integer cents so both
    engines are bit-exact regardless of internal frame algorithms."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return events.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("hour_cents"),
        F.count(F.lit(1)).over(w).alias("hour_events"),
    )


@query(
    "json_props_stats",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
                           THEN 1 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column path (SURVEY §2.8 X9): parse the JSON
    ``props`` payload with a typed ``from_json`` schema (one JVM-side
    parse per row feeding every downstream use — preferable at scale
    to repeated ``get_json_object`` path probes) and aggregate per
    type. The parse is a narrow projection; the only shuffle is the
    5-group agg."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k LONG")["k"]
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count(F.when(F.col("k") >= 50, 1)).cast("long").alias("n_high"),
        )
    )


@query(
    "unpivot_lineitem_measures",
    """
    SELECT measure, l_returnflag,
           count(*) AS n,
           round(sum(val), 2) AS total,
           round(avg(val), 6) AS mean
    FROM (
      SELECT l_returnflag, 'quantity' AS measure,
             CAST(l_quantity AS DOUBLE) AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    GROUP BY measure, l_returnflag
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/melt) + per-measure stats. Spark's
    ``unpivot`` is a single-pass Expand (each input row fans out to 4
    — no self-union, no repeated scan, which is what the 4-way
    UNION ALL oracle would cost executed literally)."""
    li = load_table(spark, sf_dir, "lineitem")
    # aliasing to the final measure names BEFORE unpivot makes the
    # measure column come out right directly — no post-hoc remap
    long = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    ).unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "val",
    )
    return (
        long.groupBy("measure", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 2).alias("total"),
            F.round(F.avg("val"), 6).alias("mean"),
        )
    )


@query(
    "window_lag_lead_user_deltas",
    """
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS delta_cents,
           lead(event_type)
             OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_type,
           first_value(event_type)
             OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS first_type
    FROM events
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions (lag/lead/first_value) over per-user
    event sequences, integer-cents exact. One shuffle on user_id; all
    three functions share a single window frame (one sort)."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    return events.select(
        "event_id",
        "user_id",
        (cents - F.lag(cents).over(w)).alias("delta_cents"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


@query(
    "events_hourly_rollup_incremental",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental partitioned rollup (the hypertable/merge-on-read
    shape): partial hourly aggregates are computed separately for the
    already-ingested base and a newly-arrived delta slice, then MERGED
    by re-aggregating the partials — never re-reading the base corpus.
    The oracle computes the identical rollup directly over the full
    table, so the hash match IS the mergeability proof. At 100 TB the
    base partials are a stored table keyed by (hour, type) and each
    ingest batch folds in with one vocab-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_sv")
        )

    base = partial(ev.where(F.col("event_id") % 10 != 0))
    delta = partial(ev.where(F.col("event_id") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("hour", "event_type")
        .agg(F.sum("_n").alias("n"), F.sum("_sv").alias("_sv2"))
        .select(
            "hour",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("_sv2"), 2).alias("total_value"),
        )
    )
