"""Skew mitigation operators — the hot-key survival kit for 100 TB.

AQE's skew-join splitting handles sort-merge joins automatically, but
two shapes still need explicit salting:

- **salted_join**: when a replicated (broadcast-sized) dimension joins
  a fact table whose join key is pathologically hot (e.g. event_type
  with 5 values over 10^11 rows), pre-salting spreads each hot key
  over JOIN_SALTS shuffle partitions: facts derive a deterministic
  salt from the full row hash, the dimension replicates once per salt,
  and the inner join key becomes (key, salt). Results are EXACTLY the plain
  join's (each fact row meets exactly one replica), so the DuckDB
  oracle is the unsalted join.

- **salted_distinct_count**: count(DISTINCT v) on a hot group key
  cannot partial-aggregate. Salting by ``hash(v) % DISTINCT_SALTS``
  partitions the VALUE space, so per-(group, salt) distinct counts
  sum exactly to the group's distinct count — two ordinary hash
  aggregations, no giant per-group state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


JOIN_SALTS = 8
DISTINCT_SALTS = 32


def salted_join(facts: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    f = facts.withColumn(
        "_salt", F.pmod(F.xxhash64(*facts.columns), F.lit(JOIN_SALTS))
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1)))
    )
    return f.join(d, [key, "_salt"]).drop("_salt")


def salted_distinct_count(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    salt = F.pmod(F.xxhash64(value_col), F.lit(DISTINCT_SALTS))
    per_salt = (
        df.groupBy(*group_cols, salt.alias("_salt"))
        .agg(F.countDistinct(value_col).alias("_d"))
    )
    return per_salt.groupBy(*group_cols).agg(
        F.sum("_d").alias(f"distinct_{value_col}")
    )
