"""Query registry: the driver-facing (name -> callable) + oracle-SQL maps.

Every operator claimed in SURVEY.md §2 registers a query here via the
``@query`` decorator, together with the ANSI-SQL oracle DuckDB runs on
the same parquet tables. Queries without an oracle (genuinely
non-SQL-expressible ops) register with ``oracle=None`` and get the
driver's weaker rows-only check.

Contract reminders (driver compare):
- column names must match between Spark result and oracle SQL;
- compare is order-insensitive but value-exact -> every fractional
  output is rounded to a fixed scale in BOTH engines;
- timestamps only to second precision in outputs (ns-vs-µs safety).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
_V = TypeVar("_V")

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


_loaded = False

# The external correctness harness checks a bounded prefix of the
# registration order (50 names per round). Names listed here surface
# first so queries that still need a hard signal — never-checked
# families, freshly-fixed rows, and operators added this round — land
# inside the checked window; everything else follows in registration
# order. Rotate per round.
# Round-13 window. Rule: earliest deadline first over the
# CORRECTNESS_r*.json history — every name whose latest recorded
# check is at or past the capacity-derived lag bound (ceil(N/50) rounds,
# tests/test_rotation_staleness.py) comes first, the most overdue
# first and alphabetical within a round; the remaining slots go to
# the most overdue rows whose code changed since their last check.
# CAPACITY POLICY (round 10): the bound is DERIVED from the live
# registry — growing it accepts a slower re-check cadence
# automatically, with a deliberate hard ceiling of 8 windows (400
# queries) gated in tests/test_rotation_staleness.py (full policy
# rationale lives there, next to the arithmetic).
_PRIORITY: tuple[str, ...] = (
    # all 49 names last checked in r7 (lag 5 at r12 = the bound)
    "ch_sql_agg_combinators",
    "ch_sql_array_join_tokens",
    "ch_sql_array_lambdas",
    "ch_sql_asof_attribution",
    "ch_sql_base58_roundtrip",
    "ch_sql_calendar_bridges",
    "ch_sql_categorical_iv",
    "ch_sql_distinct_prewhere",
    "ch_sql_extremes",
    "ch_sql_geo_functions",
    "ch_sql_group_cube",
    "ch_sql_group_rollup",
    "ch_sql_grouping_sets",
    "ch_sql_join_dims",
    "ch_sql_join_using",
    "ch_sql_limit_by",
    "ch_sql_lttb_downsample",
    "ch_sql_map_functions",
    "ch_sql_parametric_if",
    "ch_sql_parametric_quantiles",
    "ch_sql_round6_functions",
    "ch_sql_round6d_functions",
    "ch_sql_round6f_aggregates",
    "ch_sql_round6h_aggregates",
    "ch_sql_round7_functions",
    "ch_sql_round7b_functions",
    "ch_sql_round7c_functions",
    "ch_sql_round7d_functions",
    "ch_sql_round7e_aggregates",
    "ch_sql_round7f_functions",
    "ch_sql_sample_read",
    "ch_sql_sequence_next_node",
    "ch_sql_series_period_fft",
    "ch_sql_summap_by_group",
    "ch_sql_topk",
    "ch_sql_tpch_q1",
    "ch_sql_union_all",
    "ch_sql_window_topn",
    "ch_sql_with_fill",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "multimodal_decode_stats",
    "pipeline_leakage_safe_split",
    "q12_late_shipment_priority",
    "similarity_int8_topk",
    "similarity_topk_cosine",
    "text_bigram_lm_scores",
    "text_gopher_quality",
    "text_token_entropy",
    # the most overdue (r8) of the 25 rows whose dedup / similarity /
    # CDC operators lost their expression branch in round 13
    "dedup_semantic_keep_best",
)


def _load() -> None:
    global _loaded
    if _loaded:
        return
    # Import for registration side effects.
    from .queries import (  # noqa: F401
        asof_q,
        baseline_q,
        bpe_q,
        ch_sql_q,
        dedup_q,
        multimodal_q,
        packing_q,
        profiling_q,
        relational,
        sampling_q,
        similarity_q,
        streaming_q,
        text_q,
        tpch,
        tpch_ext,
        udaf_q,
    )

    _loaded = True


def _ordered(mapping: dict[str, _V]) -> dict[str, _V]:
    head = {n: mapping[n] for n in _PRIORITY if n in mapping}
    head.update((n, v) for n, v in mapping.items() if n not in head)
    return head


def _released(fn: QueryFn) -> QueryFn:
    """Release the PREVIOUS query's tracked caches before building
    the next one: operators that persist an intermediate consumed by
    two branches of one returned plan cannot unpersist before the
    caller materializes it — by the time the sweep builds the next
    query, the previous plan has been collected, so its caches are
    safe to drop (ADVICE r10: cache accumulation across the
    233-query driver sweep)."""
    import functools

    from .cache_tracker import release_all

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_all()
        return fn(spark, sf_dir)

    return run


def get_queries() -> dict[str, QueryFn]:
    _load()
    return {n: _released(f) for n, f in _ordered(_QUERIES).items()}


def get_oracles() -> dict[str, str]:
    _load()
    return _ordered(_ORACLES)
