"""IP-range containment join: metrics × networks.

The reference runs one full-scan query PER network, sequentially
(main.go:215-287) — N scans of the fact table. Spark-first, this is a
single pass:

- **broadcast range join** (default): the networks dimension is tiny
  (thousands of rows), so broadcast it and let Catalyst use a
  BroadcastNestedLoopJoin with the range predicate. One scan of the
  fact table regardless of N.

- **bucketed equi-join** (scale path): at 100 TB with 100k+ networks
  a nested-loop against every row is wasteful. Bucket the IPv4 space
  by a fixed /16 prefix (65536 buckets): each fact row computes its
  bucket with one shift (map-side, no shuffle), each network explodes
  into the buckets it covers (a /20 lands in 1 bucket; a /8 spans
  256). The join becomes a broadcast hash equi-join on bucket id with
  a residual range filter — shuffle-free.

Both variants keep the range predicate `ip >= start AND ip <= end`
exactly as the reference generates it (including its off-by-one upper
bound — see functions.ip.parse_cidr_py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PREFIX_BITS = 16  # bucket width of the bucketed join: /16 -> 65536 buckets


def broadcast_range_join(
    facts: DataFrame,
    networks: DataFrame,
    ip_col: Column | str = "ip_long",
) -> DataFrame:
    """facts ⋈ networks ON ip BETWEEN start_long AND end_long (broadcast)."""
    ip = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    cond = (ip >= networks["start_long"]) & (ip <= networks["end_long"])
    return facts.join(F.broadcast(networks), cond)


def bucketed_range_join(
    facts: DataFrame,
    networks: DataFrame,
    ip_col: Column | str = "ip_long",
) -> DataFrame:
    """Equi-join on IP prefix bucket + residual range filter.

    Requires every network's [start_long, end_long] to be bucket-
    exploded; correct for any range, not just CIDR-aligned ones.
    """
    ip = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    shift = 32 - PREFIX_BITS

    nets = networks.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.shiftright(F.col("start_long"), shift),
                F.shiftright(F.col("end_long"), shift),
            )
        ),
    )

    f = facts.withColumn("_bucket", F.shiftright(ip, shift))
    joined = f.join(F.broadcast(nets), "_bucket").where(
        (ip >= F.col("start_long")) & (ip <= F.col("end_long"))
    )
    return joined.drop("_bucket")
