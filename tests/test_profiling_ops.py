"""Round-10 profiling/pipeline utilities (operators/profiling.py):
the declarative constraint suite, shuffle-key skew diagnostics, and
the snapshot-diff regression check — properties independent of the
driver's DuckDB oracle rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from baseline_magician_spark.operators.profiling import (
    check_constraints,
    key_skew_profile,
    snapshot_diff,
)


def test_check_constraints_one_row_per_check_and_verdicts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "c")],
        "k long, v string",
    )
    out = check_constraints(
        df,
        [
            ("rows_min_3", F.count(F.lit(1)), lambda m: m >= 3),
            (
                "k_unique",
                F.count_distinct(F.col("k")).cast("double")
                / F.count(F.lit(1)),
                lambda m: m >= 1.0,
            ),
            (
                "v_complete",
                F.avg(
                    F.when(F.col("v").isNotNull(), F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    )
                ),
                lambda m: m >= 0.99,
            ),
            ("max_k_info", F.max("k"), None),
        ],
    ).collect()
    got = {r["constraint"]: (r["metric"], r["passed"]) for r in out}
    assert len(out) == 4
    assert got["rows_min_3"] == (4.0, True)
    assert got["k_unique"] == (0.75, False)  # 3 distinct / 4 rows
    assert got["v_complete"] == (0.75, False)
    assert got["max_k_info"] == (3.0, True)  # informational


def test_key_skew_uniform_vs_hot_key(spark):
    uniform = spark.createDataFrame(
        [(i % 10,) for i in range(100)], "k long"
    )
    u = key_skew_profile(uniform, "k").collect()[0]
    assert u["n_keys"] == 10 and u["n_rows"] == 100
    assert u["top1_share"] == 0.1 and u["max_mean_ratio"] == 1.0
    assert u["gini"] == 0.0  # perfectly uniform

    hot = spark.createDataFrame(
        [(0,)] * 91 + [(i,) for i in range(1, 10)], "k long"
    )
    h = key_skew_profile(hot, "k").collect()[0]
    assert h["top1_share"] == 0.91
    assert h["gini"] > 0.7  # one key owns the data


def test_snapshot_diff_statuses_and_changed_cols(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (4, None, "D")],
        "k long, p double, s string",
    )
    new = spark.createDataFrame(
        # 1 unchanged; 2 price changed; 3 removed; 4 NULL->value
        # change; 5 added
        [(1, 10.0, "A"), (2, 21.0, "B"), (4, 40.0, "D"), (5, 50.0, "E")],
        "k long, p double, s string",
    )
    rows = {
        r["k"]: r
        for r in snapshot_diff(old, new, ["k"], ["p", "s"]).collect()
    }
    assert rows[1]["status"] == "unchanged" and rows[1]["changed_cols"] == []
    assert rows[2]["status"] == "changed" and rows[2]["changed_cols"] == ["p"]
    assert rows[3]["status"] == "removed" and rows[3]["changed_cols"] == []
    assert rows[4]["status"] == "changed" and rows[4]["changed_cols"] == ["p"]
    assert rows[5]["status"] == "added" and rows[5]["changed_cols"] == []
    # NULL == NULL is NOT a change
    old2 = spark.createDataFrame([(7, None, "x")], "k long, p double, s string")
    new2 = spark.createDataFrame([(7, None, "x")], "k long, p double, s string")
    r7 = snapshot_diff(old2, new2, ["k"], ["p", "s"]).collect()[0]
    assert r7["status"] == "unchanged"


def test_self_repetition_spans_keeps_first_occurrence(spark):
    """Within-doc repetition: the FIRST occurrence is never flagged;
    a later verbatim repeat is; cross-document repeats are NOT
    flagged (that is duplicated_spans' job)."""
    from baseline_magician_spark.operators.dedup import (
        excise_spans,
        self_repetition_spans,
    )

    base = "abcdefghijklmnopqrstuvwxyz0123456789"  # 36 unique chars
    rep = "REPEATED-BLOCK-0123456789-abcdefghij"  # 36 chars
    rows = [
        (1, rep + base + rep),          # repeat of rep at the tail
        (2, base + "ZZ" + base[::-1]),  # no 16-gram repeats
        (3, rep + "ZYXWVUTSRQPONMLKJIHG"),  # rep also in docs 1/3 —
        # cross-doc only, and the tail has no within-doc 16-gram repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = self_repetition_spans(df, "text", "doc_id")
    got = {
        r["id"]: (r["span_start"], r["span_end"])
        for r in spans.collect()
    }
    assert 2 not in got and 3 not in got
    s, e = got[1]
    assert s > len(rep) + len(base) - 15  # only the SECOND copy
    assert e == len(rows[0][1])
    cleaned = {
        r["id"]: r["clean_text"]
        for r in excise_spans(df, spans, "text", "doc_id").collect()
    }
    assert cleaned[1].startswith(rep + base)  # first copy survives
    assert len(cleaned[1]) < len(rows[0][1])
    assert cleaned[2] == rows[1][1] and cleaned[3] == rows[2][1]


def test_snapshot_diff_property_random_tables(spark):
    """Property ring: random old/new snapshots vs a plain Python
    diff model — statuses and changed-column sets must agree for
    every key, including NULLs on either side."""
    import random

    from baseline_magician_spark.operators.profiling import (
        snapshot_diff,
    )

    rng = random.Random(99)
    for _round in range(3):
        def mkrows(keys):
            return {
                k: (
                    rng.choice([None, 1.5, 2.5, 3.5]),
                    rng.choice([None, "a", "b"]),
                )
                for k in keys
            }

        old_keys = rng.sample(range(40), 25)
        new_keys = rng.sample(range(40), 25)
        old = mkrows(old_keys)
        new = mkrows(new_keys)
        odf = spark.createDataFrame(
            [(k, p, s) for k, (p, s) in old.items()],
            "k long, p double, s string",
        )
        ndf = spark.createDataFrame(
            [(k, p, s) for k, (p, s) in new.items()],
            "k long, p double, s string",
        )
        got = {
            r["k"]: (r["status"], list(r["changed_cols"]))
            for r in snapshot_diff(odf, ndf, ["k"], ["p", "s"]).collect()
        }
        for k in set(old) | set(new):
            if k not in old:
                want = ("added", [])
            elif k not in new:
                want = ("removed", [])
            else:
                ch = sorted(
                    c
                    for c, i in (("p", 0), ("s", 1))
                    if old[k][i] != new[k][i]
                )
                want = ("changed" if ch else "unchanged", ch)
            assert got[k] == want, (k, got[k], want)
        assert set(got) == set(old) | set(new)


def test_fk_coverage_orphans_and_nulls(spark):
    from baseline_magician_spark.operators.profiling import fk_coverage

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (2,), (3,)], "pk long")
    r = fk_coverage(child, parent, "fk", "pk", "c->p").collect()[0]
    assert r["relationship"] == "c->p"
    assert r["n_child"] == 5 and r["n_null_keys"] == 1
    assert r["n_orphans"] == 1  # the 9
    assert r["match_rate"] == 0.75  # 3 of 4 non-null matched
    assert r["passed"] is False
    ok = fk_coverage(
        child.where(F.col("fk") != 9), parent, "fk", "pk", "c->p"
    ).collect()[0]
    assert ok["n_orphans"] == 0 and ok["passed"] is True
