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

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path
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
_order: list[str] | None = None

# The external correctness harness checks a bounded prefix of the order
# get_queries() returns (50 names per round; the harness picks the
# size). The order is derived, not kept by hand: registered names sort
# stably by the round of their latest check in the
# CORRECTNESS_r<round>.json records at the repo root. Never-checked
# names come first, then the oldest checks; registration order breaks
# ties. Recording a round therefore rotates the window by itself. With
# no records (the package imported from the shipped zip) the order is
# registration order. The records are read once, on the first call.
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _last_checked_rounds(root: Path) -> dict[str, int]:
    """{query name: newest round whose correctness record in ``root``
    lists it}; empty when ``root`` is not a directory (a zip)."""
    latest: dict[str, int] = {}
    if not root.is_dir():
        return latest
    for p in root.glob("CORRECTNESS_r*.json"):
        m = _RECORD.fullmatch(p.name)
        if m:
            r = int(m.group(1))
            for name in json.loads(p.read_text()):
                latest[name] = max(r, latest.get(name, 0))
    return latest


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


def _check_order(names: Iterable[str], latest: dict[str, int]) -> list[str]:
    return sorted(names, key=lambda n: latest.get(n, 0))


def _ordered(mapping: dict[str, _V]) -> dict[str, _V]:
    global _order
    if _order is None:
        root = Path(__file__).resolve().parent.parent
        _order = _check_order(_QUERIES, _last_checked_rounds(root))
    return {n: mapping[n] for n in _order if n in mapping}


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
