"""Sampling/split/mixture operator properties: hash-determinism (the
reason these exist instead of df.sample), partition invariance, quota
enforcement, and threshold arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from baseline_magician_spark.catalog import load_table

    return load_table(spark, SF_ORACLE, "documents")


def test_split_covers_everything_and_is_deterministic(spark, docs):
    from baseline_magician_spark.operators.sampling import split_assign

    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    assigned = docs.select(
        "doc_id", split_assign(F.col("doc_id"), fr, "s").alias("split")
    )
    counts = {r["split"]: r["n"] for r in
              assigned.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    assert set(counts) == {"train", "valid", "test"}
    # uniform hash: 80/10/10 within a loose tolerance at n=500
    assert 0.7 < counts["train"] / total < 0.9

    # same rows -> same labels regardless of partitioning
    re = docs.repartition(17).select(
        "doc_id", split_assign(F.col("doc_id"), fr, "s").alias("split")
    )
    assert sorted(map(tuple, assigned.collect())) == sorted(
        map(tuple, re.collect())
    )


def test_split_is_narrow_no_shuffle(spark, docs):
    from baseline_magician_spark.operators.sampling import split_assign

    plan = docs.select(
        split_assign(F.col("doc_id"), {"a": 0.5, "b": 0.5}, "s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_sample_is_subset_and_respects_strata(spark, docs):
    from baseline_magician_spark.operators.sampling import stratified_sample

    kept = stratified_sample(docs, "lang", {"en": 1.0, "zh": 0.0}, "doc_id")
    by_lang = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    en_total = docs.where(F.col("lang") == "en").count()
    assert by_lang.get("en") == en_total  # fraction 1.0 keeps all
    assert "zh" not in by_lang  # fraction 0.0 keeps none
    for lang in ("de", "fr", "es"):  # STRATA_DEFAULT 0.1, loose bound
        frac = by_lang.get(lang, 0) / docs.where(F.col("lang") == lang).count()
        assert frac < 0.45


def test_quota_caps_each_group_deterministically(spark, docs):
    from baseline_magician_spark.operators.sampling import quota_per_group

    kept = quota_per_group(docs, "source", 7, "doc_id", seed="q")
    sizes = kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= 7 for r in sizes)
    ids_a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    kept_b = quota_per_group(docs.repartition(13), "source", 7, "doc_id", seed="q")
    ids_b = sorted(r["doc_id"] for r in kept_b.select("doc_id").collect())
    assert ids_a == ids_b


def test_mixture_plan_fractions(spark, docs):
    from baseline_magician_spark.operators.sampling import mixture_plan

    plan = mixture_plan(docs, "source", F.col("n_chars"), {"src0": 0.9})
    rows = {r["source"]: r for r in plan.collect()}
    assert rows["src0"]["sample_fraction"] == 1.0  # way under target
    for src, r in rows.items():
        if src != "src0":
            assert r["target_weight"] == 0.0
            assert r["sample_fraction"] == 0.0
        assert 0.0 <= r["sample_fraction"] <= 1.0


def test_hash60_is_uniform_and_seed_sensitive(spark):
    from pyspark.sql import functions as F

    from baseline_magician_spark.operators.sampling import HASH_SPACE, hash60

    n = 20000
    df = spark.range(n).select(
        hash60(F.col("id"), "a").alias("ha"),
        hash60(F.col("id"), "b").alias("hb"),
    )
    row = df.agg(
        F.count_distinct("ha").alias("d"),
        F.avg(F.col("ha") / F.lit(float(HASH_SPACE))).alias("mean"),
        F.count_if(F.col("ha") == F.col("hb")).alias("collide"),
    ).collect()[0]
    assert row["d"] == n  # no collisions at this scale
    assert abs(row["mean"] - 0.5) < 0.02  # uniform in [0, 1)
    assert row["collide"] == 0  # seeds decorrelate


def test_split_assignment_is_partition_invariant(spark):
    """The determinism claim the module docstring makes: membership is
    a pure function of (seed, key) — repartitioning the input any way
    must not move a single row between splits."""
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.sampling import split_assign
    from baseline_magician_spark.queries.sampling_q import (
        SPLIT_FRACTIONS,
        SPLIT_SEED,
    )
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")

    def assignment(df):
        return {
            (r["doc_id"], r["split"])
            for r in df.select(
                "doc_id",
                split_assign(
                    F.col("doc_id"), SPLIT_FRACTIONS, SPLIT_SEED
                ).alias("split"),
            ).collect()
        }

    base = assignment(docs)
    assert assignment(docs.repartition(3)) == base
    assert assignment(docs.repartition(17, "lang")) == base
    assert assignment(docs.coalesce(1)) == base


def test_leakage_safe_split_keeps_clusters_together(spark):
    """The leakage-safety invariant itself: every member of a near-dup
    cluster gets the SAME split label, and the fractions still land
    near the configured targets over cluster keys."""
    from conftest import SF_ORACLE

    from baseline_magician_spark.registry import get_queries

    df = get_queries()["pipeline_leakage_safe_split"](
        spark, SF_ORACLE
    ).cache()
    rows = df.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values()), {
        c: s for c, s in by_cluster.items() if len(s) > 1
    }
    # some clusters have >1 member (else the query degenerates to the
    # plain doc split and the invariant is vacuous)
    sizes = {}
    for r in rows:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    assert max(sizes.values()) > 1
    # split fractions over clusters: loose sanity (hash split)
    from collections import Counter

    c = Counter(next(iter(by_cluster[k])) for k in by_cluster)
    total = sum(c.values())
    assert 0.6 < c["train"] / total < 0.95
