"""Table profiling: per-column statistics in ONE pass — the data-
quality observability primitive a 100 TB ingest pipeline runs before
and after every transformation batch.

Output is long-form ``(column, stat, value: double)`` so the profile
of any table has one fixed schema (monitoring systems diff profiles
across runs; a wide per-table schema would break on every new column).

Shape: a single ``agg`` computes every (column × stat) cell — one scan,
one partial+final aggregate, no shuffle beyond the 1-row combine — and
the wide 1-row result is unpivoted driver-side into the long frame
(cells = columns × stats, a few dozen values; the stack() happens on a
1-row DataFrame, so the "reshape" is free).

Stats: nulls, distinct (exact — swap in approx_count_distinct at
scale), min/max/mean for numerics, min/max/avg length for strings.
All exact-arithmetic so a SQL oracle matches bit-for-bit.

Reference parity: the closest artifact is the driver's profile-info
packet (rows/bytes/blocks, vendor/.../clickhouse_profile_info.go:3) —
a per-query counter, not a data profile; this operator is part of the
training-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _cells(df: DataFrame) -> list[tuple[str, str, Column]]:
    """Cell expressions against POSITIONAL column refs (_p0, _p1, ...):
    the caller renames the frame first, so exotic source column names
    (quotes, backticks) never reach a column parser — they appear only
    as escaped string labels in the output."""
    cells: list[tuple[str, str, Column]] = []
    for i, field in enumerate(df.schema.fields):
        c = F.col(f"_p{i}")
        cells.append((field.name, "n_null", F.count_if(c.isNull()).cast("double")))
        cells.append(
            (field.name, "n_distinct", F.count_distinct(c).cast("double"))
        )
        if isinstance(field.dataType, NUMERIC_TYPES):
            cells.append((field.name, "min", F.min(c).cast("double")))
            cells.append((field.name, "max", F.max(c).cast("double")))
            cells.append((field.name, "mean", F.avg(c).cast("double")))
        elif isinstance(field.dataType, T.StringType):
            cells.append((field.name, "min_len", F.min(F.length(c)).cast("double")))
            cells.append((field.name, "max_len", F.max(F.length(c)).cast("double")))
            cells.append((field.name, "avg_len", F.avg(F.length(c)).cast("double")))
        elif isinstance(
            field.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            cells.append(
                (field.name, "min_epoch",
                 F.unix_timestamp(F.min(c).cast("timestamp")).cast("double"))
            )
            cells.append(
                (field.name, "max_epoch",
                 F.unix_timestamp(F.max(c).cast("timestamp")).cast("double"))
            )
    return cells


def profile_table(df: DataFrame) -> DataFrame:
    """One-pass profile: ``(column, stat, value)`` rows, values rounded
    to 6 decimals (means are the only non-exact cell)."""
    cells = _cells(df)
    df = df.toDF(*[f"_p{i}" for i in range(len(df.columns))])
    wide = df.agg(
        *[
            F.round(expr, 6).alias(f"{i}")
            for i, (_, _, expr) in enumerate(cells)
        ]
    )

    def _q(s: str) -> str:
        # column names land in the stack() SQL as string literals —
        # escape quote/backslash so exotic names (quotes, backticks)
        # can't break or shift the labels
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    stack_args = ", ".join(
        f"{_q(col)}, {_q(stat)}, `{i}`" for i, (col, stat, _) in enumerate(cells)
    )
    return wide.select(
        F.expr(
            f"stack({len(cells)}, {stack_args}) AS (column, stat, value)"
        )
    )


def check_constraints(df: DataFrame, checks: list[tuple]) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ-style
    gate a 100 TB ingest runs per batch): each check is
    (name, metric aggregate Column, predicate) where predicate is a
    callable mapping the rounded metric Column to a boolean Column
    (None for informational metrics -> passed is always true).

    Returns (constraint, metric double, passed boolean) — long-form
    like profile_table, one fixed schema for any suite. ONE scan,
    one partial+final aggregate for ALL constraints (the metric
    columns ride a single agg row, then unpivot on the 1-row frame
    is free); no per-constraint jobs."""
    wide = df.agg(
        *[
            F.round(m.cast("double"), 6).alias(f"_c{i}")
            for i, (_n, m, _p) in enumerate(checks)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col(f"_c{i}").alias("metric"),
                (
                    F.lit(True)
                    if passed is None
                    else passed(F.col(f"_c{i}"))
                ).alias("passed"),
            )
            for i, (name, _m, passed) in enumerate(checks)
        ]
    )
    return wide.select(F.explode(rows).alias("_r")).select("_r.*")


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Hot-key diagnostics for a shuffle key: one row of distribution
    stats over the per-key counts — n_keys, total rows, top-1 key
    share, max/mean count ratio, and the Gini coefficient of the
    count distribution (0 = uniform, ->1 = one key owns the data).
    This is the measurement that decides salting / AQE skew-join
    before a 100 TB groupBy, not after it spills.

    Shape: one groupBy on the key (the aggregate you were about to
    run anyway, count-only), then the stats run over the per-key
    count frame — |distinct keys| rows, orders of magnitude smaller
    than the data; the Gini rank is a window over that small frame
    with a deterministic (count, key) order."""
    from pyspark.sql import Window as W

    counts = df.groupBy(F.col(key).alias("_k")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    ranked = counts.withColumn(
        "_i", F.row_number().over(W.orderBy(F.asc("_n"), F.asc("_k")))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("_n").alias("n_rows"),
        F.round(F.max("_n") / F.sum("_n"), 6).alias("top1_share"),
        F.round(
            F.max("_n") / (F.sum("_n") / F.count(F.lit(1))), 6
        ).alias("max_mean_ratio"),
        # Gini over sorted counts: 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
        F.round(
            F.lit(2.0)
            * F.sum(F.col("_i") * F.col("_n"))
            / (F.count(F.lit(1)) * F.sum("_n"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots of the same relation —
    the lakehouse regression check after a rewrite/backfill.

    Returns (keys..., status, changed_cols): status in
    added / removed / changed / unchanged; changed_cols is the
    sorted array of compare columns whose values differ (NULL-safe
    equality, so NULL -> value counts as a change and NULL == NULL
    does not), and is empty for added/removed rows (there is no
    other side to compare against).

    Shape: ONE full-outer equi-join on the key columns — the
    canonical co-partitioned diff; both sides shuffle once on the
    same key, every downstream rollup (per-status counts, per-column
    change histogram) is a cheap aggregate over the joined frame."""
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    cond = None
    for k in keys:
        e = F.col(f"_ko_{k}") == F.col(f"_kn_{k}")
        cond = e if cond is None else (cond & e)
    j = o.join(n, cond, "full_outer")
    changed = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    both = F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull()
    changed = F.when(both, changed).otherwise(
        F.array().cast("array<string>")
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.size(changed) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"_kn_{k}"), F.col(f"_ko_{k}")).alias(k)
            for k in keys
        ],
        status.alias("status"),
        changed.alias("changed_cols"),
    )


def fk_coverage(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    name: str,
) -> DataFrame:
    """Referential-integrity check: how well a child relation's
    foreign key is covered by the parent's key set.

    One row: (relationship, n_child, n_null_keys, n_orphans,
    match_rate, passed) — n_orphans counts NON-NULL child keys
    absent from the parent (NULL keys are reported separately, the
    classic DQ treatment), match_rate = matched / non-null child
    keys, passed iff no orphans.

    Shape: ONE left join of the child against the parent's DISTINCT
    key set (no fanout on duplicate parents; AQE broadcasts small
    parents) + one aggregate — the cheapest join that answers the
    question at 100 TB."""
    pk = parent.select(
        F.col(parent_key).alias("_pk")
    ).distinct()
    j = child.select(F.col(child_key).alias("_ck")).join(
        pk, F.col("_ck") == F.col("_pk"), "left"
    )
    nn = F.count(F.col("_ck"))
    matched = F.count(F.col("_pk"))
    agg = j.agg(
        F.count(F.lit(1)).alias("n_child"),
        (F.count(F.lit(1)) - nn).alias("n_null_keys"),
        (nn - matched).alias("n_orphans"),
        F.round(matched.cast("double") / nn, 6).alias("match_rate"),
        ((nn - matched) == 0).alias("passed"),
    )
    return agg.select(F.lit(name).alias("relationship"), "*")
