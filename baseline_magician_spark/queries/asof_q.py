"""As-of join query: each event enriched with the issuing user's most
recent order as of the event time. The DuckDB oracle uses the native
``ASOF JOIN`` operator — an independent implementation of the same
semantics (right side pre-deduped per (key, ts) so ties are
deterministic in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof_join import asof_join
from ..registry import query

_ORACLE = """
WITH r AS (
  SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.ts,
       r.o_orderkey AS asof_o_orderkey,
       r.o_totalprice AS asof_o_totalprice
FROM events e ASOF JOIN r
  ON e.user_id = r.user_id AND r.o_orderdate <= e.ts
"""


@query("asof_join_latest_order", _ORACLE)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    # pre-dedup ties at the same (key, ts) — keep max o_orderkey, the
    # same rule the oracle applies
    w = Window.partitionBy("user_id", "o_orderdate").orderBy(F.desc("o_orderkey"))
    orders = (
        orders.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
        right_order="o_orderkey",
    )
