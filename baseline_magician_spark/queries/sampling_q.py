"""Deterministic sampling / split / mixture queries on the documents
table — the training-data composition surface (operators/sampling.py),
each hash-checked against a DuckDB oracle running the identical md5
arithmetic.

Reference parity: no sampling exists in baseline_magician (SURVEY §2 —
the only row selection is the IPv4 filter, main.go:223-226); these are
north-star training-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import tokens
from ..operators.sampling import (
    mixture_plan,
    quota_per_group,
    split_assign,
    split_assign_sql,
    stratified_sample,
    hash60_sql,
    HASH_SPACE,
    STRATA_DEFAULT,
    STRATA_SEED,
)
from ..registry import query

SPLIT_SEED = "split42"
SPLIT_FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}
STRATA_FRACTIONS = {"en": 0.5, "zh": 0.25}
QUOTA_SEED = "quota1"
QUOTA_N = 120
MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.1}

from ..functions.hashing import tokens_duckdb

_TOK = f"len({tokens_duckdb('text')})"


def _split_oracle() -> str:
    assign = split_assign_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"""
    SELECT {assign} AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({_TOK}) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1
    """


@query("sample_split_train_valid_test", _split_oracle())
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test split, assigned by a pure hash of the
    document key: membership survives reruns, repartitioning, and
    incremental reprocessing. The assignment itself is a narrow
    projection; the single shuffle here is the 3-group stats agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            split_assign(F.col("doc_id"), SPLIT_FRACTIONS, SPLIT_SEED).alias(
                "split"
            ),
            "n_chars",
            F.size(tokens("text")).alias("n_toks"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
    )


def _stratified_oracle() -> str:
    h = hash60_sql("doc_id", STRATA_SEED)
    thr = " ".join(
        f"WHEN lang = '{s}' THEN {int(f * HASH_SPACE)}"
        for s, f in STRATA_FRACTIONS.items()
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {h} < (CASE {thr} ELSE {int(STRATA_DEFAULT * HASH_SPACE)} END)
    """


@query("sample_stratified_by_lang", _stratified_oracle())
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Bernoulli sample (en 50%, zh 25%, rest 10%) with
    exact integer thresholds — zero-shuffle, fully codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", STRATA_FRACTIONS, "doc_id").select(
        "doc_id", "lang"
    )


def _quota_oracle() -> str:
    h = hash60_sql("doc_id", QUOTA_SEED)
    return f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY {h}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {QUOTA_N}
    """


@query("sample_quota_per_source", _quota_oracle())
def sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at QUOTA_N docs, chosen by hash order — the
    deterministic 'at most N per provider' mixing primitive. One
    shuffle on the group key."""
    docs = load_table(spark, sf_dir, "documents")
    return quota_per_group(
        docs, "source", QUOTA_N, "doc_id", seed=QUOTA_SEED
    ).select("doc_id", "source")


def _mixture_oracle() -> str:
    w = " ".join(f"WHEN source = '{s}' THEN {x}" for s, x in MIX_WEIGHTS.items())
    return f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum({_TOK}) AS BIGINT) AS actual_size
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(actual_size) AS BIGINT) AS t FROM per_source)
    SELECT source, n_docs, actual_size,
           (CASE {w} ELSE 0.0 END) AS target_weight,
           round(least(1.0, (CASE {w} ELSE 0.0 END) * t / actual_size), 6)
             AS sample_fraction
    FROM per_source CROSS JOIN tot
    """


@query("sample_mixture_plan", _mixture_oracle())
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted mixture rebalancing plan: per-source keep
    fractions that move the corpus toward the target source weights
    (downsampling only). Feeds stratified_sample as stage two."""
    docs = load_table(spark, sf_dir, "documents")
    return mixture_plan(
        docs, "source", F.size(tokens("text")), MIX_WEIGHTS
    )


EXPORT_SEED = "mix9"


def _training_export_oracle() -> str:
    """The full composition in one SQL: exact dedup -> near-dup cluster
    removal (MinHash CC, reused from the dedup oracles) ->
    duplicated-span EXCISION over the survivors (round 10 — the
    exported corpus is the CLEANED text; every downstream stage
    counts clean tokens) -> quality gate -> token-weighted mixture
    fractions -> per-source hash sample -> split assignment ->
    per-(split, source) corpus stats + an md5 digest of the exported
    clean text per cell."""
    from ..functions.hashing import tokens_duckdb
    from .dedup_q import (
        _minhash_oracle,
        cc_closure_sql,
        span_excision_ctes,
    )

    ctok = f"len({tokens_duckdb('clean_text')})"
    w = " ".join(f"WHEN source = '{s}' THEN {x}" for s, x in MIX_WEIGHTS.items())
    h = hash60_sql("doc_id", EXPORT_SEED)
    assign = split_assign_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"""{cc_closure_sql(_minhash_oracle())},
    non_survivors AS (
      SELECT node AS doc_id FROM walk GROUP BY node HAVING node <> min(label)
    ),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    survivors AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN exact_keep k ON d.doc_id = k.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM non_survivors)
    ),
    {span_excision_ctes("survivors")},
    kept AS (
      SELECT doc_id, source, clean_text, {ctok} AS n_toks
      FROM cleaned
      WHERE {ctok} >= 10
    ),
    per_source AS (
      SELECT source, CAST(sum(n_toks) AS BIGINT) AS actual FROM kept
      GROUP BY source
    ),
    tot AS (SELECT CAST(sum(actual) AS BIGINT) AS t FROM per_source),
    fractions AS (
      SELECT source,
             round(least(1.0, (CASE {w} ELSE 0.0 END) * t / actual), 6)
               AS frac
      FROM per_source CROSS JOIN tot
    ),
    sampled AS (
      SELECT k.* FROM kept k JOIN fractions f ON k.source = f.source
      WHERE CAST({h} AS DOUBLE) / 1152921504606846976.0 < f.frac
    )
    SELECT {assign} AS split, source,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           md5(string_agg(md5(clean_text), '' ORDER BY doc_id))
             AS clean_digest
    FROM sampled
    GROUP BY 1, 2
    """


@query("pipeline_training_export", _training_export_oracle())
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the whole training-data story as ONE
    declarative plan: exact dedup, near-dup cluster removal,
    duplicated-span EXCISION over the survivors (round 10: the
    export ships CLEANED text — every downstream count is clean
    tokens, and the oracle hash-checks the exported text per
    (split, source) cell via the md5-of-sorted-per-doc-md5 digest),
    quality gate, token-weighted mixture rebalancing, deterministic
    per-source sampling, train/valid/test split, per-cell stats.
    Every stage is an independently-oracle-checked operator;
    Catalyst fuses the narrow stages and the shuffles are the dedup
    self-join, the CC rounds, the span-shingle groupBys, the two
    tiny aggregates, and the final 3x|sources| cell agg. The
    data-dependent sample fraction compares in double space
    (hash/2^60 < frac) — identical IEEE ops in both engines."""
    from ..operators.dedup import (
        duplicated_spans,
        exact_dedup_groups,
        excise_spans,
        minhash_lsh_pairs,
    )
    from ..operators.graph import dedup_clusters
    from .dedup_q import _DUP_SPANS_K

    # widened load: the MinHash signature fold is the expensive narrow
    # stage of this composition (see catalog.load_for_compute)
    from ..catalog import load_for_compute

    docs = load_for_compute(spark, sf_dir, "documents")
    exact_keep = exact_dedup_groups(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id")
    non_survivors = (
        dedup_clusters(pairs, "doc_a", "doc_b")
        .where(~F.col("is_survivor"))
        .select("doc_id")
    )
    from ..cache_tracker import track

    # THREE consumers (span detection, excision, the source join):
    # persist beat exchange-reuse-only 6.35 vs 7.15 s in the same
    # interleaved sf0.1 A/B as dedup_q.corpus_cleanup; tracked.
    survivors = track(
        docs.join(exact_keep, "doc_id", "left_semi")
        .join(non_survivors, "doc_id", "left_anti")
        .select("doc_id", "source", "text")
        .persist()
    )
    spans = duplicated_spans(survivors, "text", "doc_id", k=_DUP_SPANS_K)
    kept = (
        excise_spans(
            survivors.select("doc_id", "text"), spans, "text", "doc_id"
        )
        .join(
            survivors.select(F.col("doc_id").alias("id"), "source"),
            "id",
        )
        .select(
            F.col("id").alias("doc_id"),
            "source",
            "clean_text",
            F.size(tokens("clean_text")).alias("n_toks"),
        )
        .where(F.col("n_toks") >= 10)
        # TWO consumers (the mixture aggregate and the sample join)
        # would each recompute the excision subtree — the most
        # expensive narrow stage of the composition; cache the
        # cleaned+gated frame once (it is the kept corpus text;
        # the registry's cache tracker unpersists it before the next
        # query builds — ADVICE r10).
        # Round-10 measurement: export 9.7 -> ~7.0 s at sf0.1.
        .persist()
    )
    from ..cache_tracker import track

    track(kept)
    fractions = mixture_plan(
        kept, "source", F.col("n_toks"), MIX_WEIGHTS
    ).select("source", F.col("sample_fraction").alias("frac"))
    from ..operators.sampling import hash60

    sampled = kept.join(F.broadcast(fractions), "source").where(
        (hash60(F.col("doc_id"), EXPORT_SEED).cast("double")
         / F.lit(float(HASH_SPACE)))
        < F.col("frac")
    )
    return (
        sampled.select(
            split_assign(F.col("doc_id"), SPLIT_FRACTIONS, SPLIT_SEED).alias(
                "split"
            ),
            "source",
            "n_toks",
            "doc_id",
            F.md5(F.col("clean_text").cast("binary")).alias("h"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "h"))
                        ),
                        lambda x: x["h"],
                    ),
                ).cast("binary")
            ).alias("clean_digest"),
        )
    )


def _shuffle_oracle() -> str:
    from ..functions.hashing import poly_hash_duckdb
    from ..operators.sampling import SHUFFLE_BUCKETS, SHUFFLE_SEED

    hk = poly_hash_duckdb(f"CAST(doc_id AS VARCHAR) || '{SHUFFLE_SEED}'")
    return f"""
    WITH t AS (SELECT doc_id AS id, {hk} AS hk FROM documents)
    SELECT id,
           CAST(row_number() OVER (ORDER BY hk % {SHUFFLE_BUCKETS}, hk, id) - 1
                AS BIGINT) AS shuffle_rank
    FROM t
    """


@query("pipeline_shuffle_order", _shuffle_oracle())
def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle permutation via two-phase ranking —
    the oracle's single global ORDER BY is exactly what the bucketed
    construction reproduces without a one-partition sort."""
    from ..operators.sampling import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id")


def _temperature_oracle() -> str:
    return """
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS actual_size
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(actual_size) AS DOUBLE) AS total FROM per),
    s AS (
      SELECT source, n_docs, actual_size,
             actual_size / total AS share,
             sqrt(actual_size / total) AS w_raw
      FROM per CROSS JOIN t
    ),
    ws AS (SELECT sum(w_raw) AS wsum FROM s)
    SELECT source, n_docs, actual_size,
           round(share, 6) AS share,
           round(w_raw / wsum, 6) AS weight,
           round((w_raw / wsum) / share, 6) AS boost
    FROM s CROSS JOIN ws
    """


@query("sample_temperature_weights", _temperature_oracle())
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture reweighting (weight ∝ share^0.5): the
    derived-from-distribution counterpart of the explicit-target
    mixture plan — low-resource sources get boost > 1, dominant ones
    < 1. alpha = 0.5 compiles to sqrt, IEEE-exact in both engines."""
    from ..operators.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights(docs, "source", F.col("n_chars"))


def _curriculum_oracle() -> str:
    from ..operators.text import BPE_PATTERN

    return f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{BPE_PATTERN}'))
                  AS DOUBLE) AS difficulty
      FROM documents
    ), q AS (
      SELECT quantile_cont(difficulty, [0.25, 0.5, 0.75]) AS qs FROM s
    )
    SELECT phase, count(*) AS n_docs,
           min(difficulty) AS min_difficulty,
           max(difficulty) AS max_difficulty,
           round(avg(difficulty), 6) AS avg_difficulty
    FROM (
      SELECT CAST(1 + CAST(difficulty > qs[1] AS INT)
                    + CAST(difficulty > qs[2] AS INT)
                    + CAST(difficulty > qs[3] AS INT) AS INT) AS phase,
             difficulty
      FROM s CROSS JOIN q
    )
    GROUP BY phase ORDER BY phase
    """


@query("pipeline_curriculum_phases", _curriculum_oracle())
def pipeline_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment (short-to-long schedule): bucket every
    document into quartile phases of its BPE-token difficulty score.

    Scale shape: ONE exact-percentile aggregate produces the three
    thresholds as a 1-row broadcast, then phase assignment is a
    map-side comparison — no global sort, no ntile single-partition
    window; at 100 TB the phase column becomes the write partition.
    Docs exactly on a threshold land in the lower phase
    (strict-greater comparisons) — deterministic in both engines.
    """
    from ..operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", bpe_token_count("text").cast("double").alias("difficulty")
    )
    qs = scored.agg(
        F.percentile(
            "difficulty", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("qs")
    )
    phased = scored.crossJoin(F.broadcast(qs)).select(
        "difficulty",
        (
            F.lit(1)
            + (F.col("difficulty") > F.element_at("qs", 1)).cast("int")
            + (F.col("difficulty") > F.element_at("qs", 2)).cast("int")
            + (F.col("difficulty") > F.element_at("qs", 3)).cast("int")
        )
        .cast("int")
        .alias("phase"),
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("difficulty").alias("min_difficulty"),
            F.max("difficulty").alias("max_difficulty"),
            F.round(F.avg("difficulty"), 6).alias("avg_difficulty"),
        )
        .orderBy("phase")
    )
