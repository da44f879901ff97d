"""Deterministic sampling, dataset splits, and mixture rebalancing —
the training-data composition operators.

Everything here is **hash-deterministic**: membership of a row in a
split/sample is a pure function of (seed, row key), never of RNG state,
partitioning, or execution order. That is the property a 100 TB
training pipeline actually needs — re-running the job, adding
executors, or reprocessing one partition must not change who is in the
training set (Spark's ``df.sample`` gives none of those guarantees
across re-partitions; ``TABLESAMPLE`` is partition-order dependent).

Mechanics: a 60-bit uniform hash ``h = conv(substr(md5(seed||':'||key),
1, 15), 16, 10)`` — md5 is available and bit-identical in every engine
we oracle against, 15 hex chars fit a signed 64-bit integer, and
fraction thresholds are driver-computed exact integer literals
(``int(f * 2^60)``), so no float comparison is involved at all.

Scale shape: split/sample assignment is a narrow map-side projection
(no shuffle, survives any partitioning); quota sampling shuffles once
on the group key; the mixture plan aggregates once. All comparisons
whole-stage-codegen.

Reference parity: the reference has no sampling surface (its only
"selection" is the IPv4 filter, main.go:223-226); this module is part
of the training-data-pipeline extension surface (SURVEY §7 phase 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS


def hash60(key: Column, seed: str) -> Column:
    """Deterministic uniform 60-bit hash of (seed, key) — the basis of
    every sampling decision. Identical SQL:
    ``('0x' || substr(md5(seed||':'||key), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def hash60_sql(key_sql: str, seed: str) -> str:
    """The DuckDB-side rendering of :func:`hash60` (oracle parity)."""
    return (
        f"CAST(('0x' || substr(md5('{seed}:' || CAST({key_sql} AS VARCHAR)), "
        f"1, 15)) AS BIGINT)"
    )


def _thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """(label, exact cumulative int threshold) pairs, driver-side."""
    out, acc = [], 0.0
    for label, f in fractions.items():
        acc += f
        out.append((label, min(HASH_SPACE, int(acc * HASH_SPACE))))
    return out


def split_assign(key: Column, fractions: dict[str, float], seed: str) -> Column:
    """Split label ('train'/'valid'/'test'/...) for each row: hash the
    key once, compare against cumulative integer thresholds. Fractions
    must sum to 1 (the last label absorbs rounding).

    A NULL key gets a NULL label — never silently bucketed (md5(NULL)
    is NULL, every comparison is NULL, and without the guard the final
    otherwise() would dump ALL null-key rows into the last split,
    contaminating it). Callers decide: filter nulls or fail loudly.
    """
    h = hash60(key, seed)
    pairs = _thresholds(fractions)
    expr = F.lit(pairs[-1][0])
    for label, thr in reversed(pairs[:-1]):
        expr = F.when(h < F.lit(thr), F.lit(label)).otherwise(expr)
    return F.when(key.isNull(), F.lit(None).cast("string")).otherwise(expr)


def split_assign_sql(key_sql: str, fractions: dict[str, float], seed: str) -> str:
    h = hash60_sql(key_sql, seed)
    pairs = _thresholds(fractions)
    cases = " ".join(
        f"WHEN {h} < {thr} THEN '{label}'" for label, thr in pairs[:-1]
    )
    # NULL-key guard mirrors split_assign: null in, null label out
    return (
        f"(CASE WHEN {key_sql} IS NULL THEN NULL "
        f"{cases} ELSE '{pairs[-1][0]}' END)"
    )


# stratified_sample's hash seed, and the fraction kept of strata not
# listed in ``fractions``.
STRATA_SEED = "strat7"
STRATA_DEFAULT = 0.1


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: keep a row iff
    ``hash60(key, STRATA_SEED) < fraction[stratum] * 2^60``
    (STRATA_DEFAULT for unlisted strata). Narrow (no shuffle);
    thresholds become a codegen'd CASE over the stratum column."""
    h = hash60(F.col(key_col), STRATA_SEED)
    thr: Column = F.lit(int(STRATA_DEFAULT * HASH_SPACE))
    for stratum, frac in fractions.items():
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * HASH_SPACE))
        ).otherwise(thr)
    return df.where(h < thr)


def quota_per_group(
    df: DataFrame,
    group_col: str,
    quota: int,
    key_col: str,
    seed: str = "q0",
) -> DataFrame:
    """Keep at most ``quota`` rows per group, chosen by hash order —
    deterministic reservoir-style quota capping for source mixing.

    One shuffle on the group key; rank by (hash, key) so ties are
    impossible and the kept set is stable under any execution order.
    At scale, a skewed group is the classic bottleneck — the window is
    rank-only (no full sort of the partition beyond the top-quota heap
    Spark's WindowExec maintains is NOT available, so for pathological
    single-group skew pre-filter with an approximate per-group
    threshold first).
    """
    h = hash60(F.col(key_col), seed)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= quota)
        .drop("_rk")
    )


def mixture_plan(
    df: DataFrame,
    source_col: str,
    size_col: Column,
    target_weights: dict[str, float],
) -> DataFrame:
    """Per-source rebalancing plan toward a target mixture.

    Input: corpus rows with a source label and a size measure (tokens).
    Output, one row per source: ``(source, n_docs, actual_size,
    target_weight, sample_fraction)`` where ``sample_fraction =
    min(1, target_weight * total_size / actual_size)`` — the fraction
    a downstream :func:`stratified_sample` would apply to hit the
    target token mixture (sources under target keep everything;
    upsampling is out of scope for a keep-only pipeline).

    Two aggregations over tiny cardinality (#sources); the corpus scan
    is a single pass.
    """
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).cast("long").alias("actual_size"),
    )
    total = per_source.agg(F.sum("actual_size").cast("long").alias("_total"))
    weight: Column = F.lit(0.0)
    for src, wgt in target_weights.items():
        weight = F.when(F.col("source") == src, F.lit(wgt)).otherwise(weight)
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "actual_size",
            weight.alias("target_weight"),
            F.round(
                F.least(
                    F.lit(1.0),
                    weight * F.col("_total") / F.col("actual_size"),
                ),
                6,
            ).alias("sample_fraction"),
        )
    )


# deterministic_shuffle's epoch key and bucket count.
SHUFFLE_SEED = "epoch0"
SHUFFLE_BUCKETS = 16


def deterministic_shuffle(df: DataFrame, id_col: str) -> DataFrame:
    """Exact global pseudorandom permutation WITHOUT a global sort —
    the training-order shuffle for data loading.

    A naive ``row_number() OVER (ORDER BY hash)`` funnels the whole
    corpus through one partition. Two-phase ranking instead: the sort
    key is (bucket, hash, id) with bucket = hash % SHUFFLE_BUCKETS; ranks
    are computed per bucket (uniform shuffle), and each bucket's global
    offset comes from a tiny bucket-count aggregate (SHUFFLE_BUCKETS rows)
    joined back broadcast. global_rank = offset + rank_in_bucket
    reproduces the single-sort answer exactly at any scale.

    Output: (id, shuffle_rank), rank 0-based, a permutation of the
    input rows; re-keying SHUFFLE_SEED yields an independent epoch order.
    """
    from pyspark.sql import Window as W

    from ..functions.hashing import poly_hash

    hk = poly_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(SHUFFLE_SEED))
    )
    # repartition on the bucket BEFORE branching: the ranking window
    # and the bucket-count aggregate then share ONE exchange (and one
    # evaluation of the per-character hash fold) instead of scanning
    # and hashing the corpus twice — the canonical-shuffle-reuse
    # pattern (cf. dedup.ngram_jaccard_pairs)
    t = df.select(
        F.col(id_col).alias("id"),
        hk.alias("_hk"),
        (hk % SHUFFLE_BUCKETS).alias("_bucket"),
    ).repartition("_bucket")
    w = W.partitionBy("_bucket").orderBy("_hk", "id")
    ranked = t.withColumn("_r", F.row_number().over(w) - 1)
    counts = t.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_bucket",
        (
            F.sum("_n").over(
                W.orderBy("_bucket").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("_off"),
    ).fillna({"_off": 0})
    return (
        ranked.join(F.broadcast(offsets), "_bucket")
        .select("id", (F.col("_off") + F.col("_r")).alias("shuffle_rank"))
    )


def temperature_weights(
    df: DataFrame,
    source_col: str,
    size_col: Column,
) -> DataFrame:
    """Temperature-based mixture reweighting: sampling weight per
    source proportional to the square root of its token share
    (temperature alpha = 0.5, the multilingual-balancing scheme: it
    flattens the distribution, boosting low-resource sources).

    Unlike :func:`mixture_plan` (explicit target weights) the targets
    here are DERIVED from the corpus distribution. Output per source:
    (source, n_docs, actual_size, share, weight, boost) where
    ``weight = sqrt(share) / sum(sqrt(share))`` and ``boost`` is the
    up/down-sampling factor weight/share.

    Plan shape: one corpus pass + two #sources-sized aggregates —
    the totals broadcast back, nothing driver-side. sqrt is
    IEEE-exact in every engine, so the oracle hash-matches
    bit-for-bit.
    """
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).cast("long").alias("actual_size"),
    )
    total = per_source.agg(
        F.sum("actual_size").cast("double").alias("_total")
    )
    shared = per_source.crossJoin(F.broadcast(total)).withColumn(
        "_share", F.col("actual_size") / F.col("_total")
    ).withColumn("_w_raw", F.sqrt(F.col("_share")))
    wsum = shared.agg(F.sum("_w_raw").alias("_wsum"))
    return (
        shared.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "n_docs",
            "actual_size",
            F.round(F.col("_share"), 6).alias("share"),
            F.round(F.col("_w_raw") / F.col("_wsum"), 6).alias("weight"),
            F.round(
                (F.col("_w_raw") / F.col("_wsum")) / F.col("_share"), 6
            ).alias("boost"),
        )
    )
