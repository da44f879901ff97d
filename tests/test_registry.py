"""Registry invariants: the query order is derived from the recorded
correctness rounds, and every query has an oracle for the parity
suite."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_order_follows_last_checked_round():
    """The correctness harness checks a prefix of this order, so it
    must run from never-checked and oldest-checked names to the
    freshest."""
    from baseline_magician_spark.registry import (
        _last_checked_rounds,
        get_queries,
    )

    latest = _last_checked_rounds(REPO)
    rounds = [latest.get(n, 0) for n in get_queries()]
    assert rounds == sorted(rounds)


def test_queries_and_oracles_share_one_order():
    from baseline_magician_spark.registry import get_oracles, get_queries

    q = list(get_queries())
    # queries and oracles must present the SAME order to the driver
    o = list(get_oracles())
    assert [n for n in q if n in set(o)] == o


def _record(root, rnd: int, names) -> None:
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(
        json.dumps({n: row for n in names})
    )


def test_never_checked_first_then_oldest_ties_keep_registration(tmp_path):
    from baseline_magician_spark.registry import (
        _check_order,
        _last_checked_rounds,
    )

    _record(tmp_path, 1, ["a", "b", "c", "d"])
    _record(tmp_path, 2, ["a", "d"])
    (tmp_path / "CORRECTNESS_notes.json").write_text("not a record")
    latest = _last_checked_rounds(tmp_path)
    assert latest == {"a": 2, "b": 1, "c": 1, "d": 2}
    assert _check_order(["d", "c", "e", "a", "b", "f"], latest) == [
        "e", "f", "c", "b", "d", "a",
    ]


def test_no_records_keeps_registration_order(tmp_path):
    from baseline_magician_spark.registry import (
        _check_order,
        _last_checked_rounds,
    )

    names = ["z", "a", "m"]
    assert _last_checked_rounds(tmp_path) == {}
    # a package imported from a zip has no directory at its root
    assert _last_checked_rounds(tmp_path / "pkg.zip") == {}
    assert _check_order(names, {}) == names


def test_every_query_has_oracle_or_documented_exemption():
    from baseline_magician_spark.registry import get_oracles, get_queries

    no_oracle = set(get_queries()) - set(get_oracles())
    # rows-only checks are reserved for genuinely non-SQL-expressible
    # ops — and as of round 7 there are NONE: even LTTB's greedy
    # bucket walk has a full oracle (its k-2 sequential choices
    # unroll into chained argmax CTEs; queries/ch_sql_q._lttb_oracle).
    assert no_oracle == set(), no_oracle
