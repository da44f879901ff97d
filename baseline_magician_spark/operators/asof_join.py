"""As-of join: match each left row to the latest right row at or before
its timestamp, per key — the standard time-series enrichment operator
(absent from the reference, which has no join at all: SURVEY §2.6).

Spark has no native ASOF JOIN; the scalable formulation here is
union + window, NOT the naive inequality join:

- naive: ``L join R on key AND r.ts <= l.ts`` then argmax per left row —
  the join explodes to |matches| rows before pruning (quadratic per key
  at 100 TB).
- here: union both sides into one ordered stream per key and carry the
  most recent right row forward with ``last(struct, ignoreNulls)`` —
  one shuffle on the key, one sort within partitions, linear work.
  The carried value is a single STRUCT so all matched columns come from
  the same right row.

Ties (right.ts == left.ts): the right row sorts BEFORE the left probe
at equal timestamps (side 0 < 1), so an exactly-simultaneous right row
IS visible — DuckDB ``ASOF JOIN`` (>=) semantics match. Duplicate
right rows at the same (key, ts) resolve to the last by the
``right_order`` tiebreak column (required for determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    right_order: str,
) -> DataFrame:
    """Output: all columns of ``left`` + ``asof_<c>`` for each value
    column; inner join, so a left row with no earlier right row is
    dropped."""
    lcols = left.columns
    rv = F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("_rv")

    l = left.select(
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_ord"),
        F.lit(None).cast(
            "struct<"
            + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols
            )
            + ">"
        ).alias("_rv"),
    )
    r = right.select(
        *[
            (F.col(on) if c == on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_order).cast("long").alias("_ord"),
        rv,
    )

    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l.unionByName(r)
        .select(*lcols, "_side", F.last("_rv", ignorenulls=True).over(w).alias("_rv"))
        .where(F.col("_side") == 1)
    )
    # match test on the carried STRUCT, not a flattened field — a
    # matched right row may legitimately hold NULL in any value col
    carried = carried.where(F.col("_rv").isNotNull())
    return carried.select(
        *lcols,
        *[F.col(f"_rv.{c}").alias(f"asof_{c}") for c in value_cols],
    )
