"""Expression engine tests: golden govaluate-semantics values for every
operator (SURVEY §2.3), plus interpreter-vs-Column-compiler agreement
over a DataFrame (both backends must produce identical results).
"""

from __future__ import annotations

import math

import pytest

from baseline_magician_spark.expr import ExpressionError, compile_column, evaluate
from baseline_magician_spark.expr.compiler import types_from_schema

PARAMS = {"value": 25.0, "x": 7, "y": -3.5, "s": "abc", "t": "abd", "flag": True}

GOLDEN = [
    # E1-E6 arithmetic
    ("value * 2", 50.0),
    ("value + 200", 225.0),
    ("x - y", 10.5),
    ("7 / 2", 3.5),
    ("2 ** 10", 1024.0),
    ("7.5 % 2", 1.5),
    ("-7.5 % 2", -1.5),  # fmod: sign of dividend
    # Go float64 edge semantics: /0 -> ±Inf, 0/0 & %0 & pow(neg, frac)
    # -> NaN (never a Python exception)
    ("1 / 0", math.inf),
    ("0 - 1 / 0", -math.inf),
    # E1 string concat overload
    ("s + 'def'", "abcdef"),
    ("'n=' + 4", "n=4"),       # integral float prints without .0 (Go %v)
    ("'n=' + 4.5", "n=4.5"),
    ("s + true", "abctrue"),
    # E7 comparisons (numeric + lexicographic)
    ("x > 5", True),
    ("y >= 0", False),
    ("s < t", True),
    ("'b' <= 'a'", False),
    # E8 equality (deep)
    ("x == 7", True),
    ("s == 'abc'", True),
    ("(1, 2) == (1, 2)", True),
    ("(1, 2) != (2, 1)", True),
    # E9 logical short-circuit
    ("flag && x > 0", True),
    ("false && [no such param] > 0", False),  # short-circuit skips rhs
    ("true || [no such param] > 0", True),
    # E10-E12 prefix
    ("-value", -25.0),
    ("!flag", False),
    ("~0", -1.0),
    # E13/E14 ternary + coalesce
    ("x > 5 ? 'big' : 'small'", "big"),
    ("x > 50 ? 'big' : 'small'", "small"),
    ("x > 50 ? 'big'", None),
    ("(x > 50 ? 'big') ?? 'default'", "default"),
    # E15 regex
    ("s =~ 'a.c'", True),
    ("s !~ '^z'", True),
    # E16 bitwise (int64 round-trip)
    ("6 & 3", 2.0),
    ("6 | 3", 7.0),
    ("6 ^ 3", 5.0),
    # E17 shifts
    ("1 << 10", 1024.0),
    ("1024 >> 3", 128.0),
    # E18/E19 arrays + IN
    ("x in (1, 7, 9)", True),
    ("'q' in ('a', 'b')", False),
    # DeepEqual is type-strict: bool vs number never equal
    # (gov/evaluationStage.go:136-141 uses reflect.DeepEqual)
    ("1 == true", False),
    ("1 != true", True),
    ("true == true", True),
    ("true in (1, true)", True),
    # E21 literals incl. date strings -> unix seconds
    ("'2024-01-01' > 0", True),
    ("'2024-01-02' - '2024-01-01'", 86400.0),
    # the exact gov/parsing.go:406-437 layout list, both directions:
    ("'Mon Jan 2 15:04:05 2006' > 0", True),  # time.ANSIC
    ("'2014-01-02T15:04:05.999999999Z' - '2014-01-02T15:04:05Z' < 1", True),
    ("'3:04PM' < 0", True),  # time.Kitchen lands on Go's year 0
    ("0x10 + 1", 17.0),
]


@pytest.mark.parametrize("expr,expected", GOLDEN)
def test_golden_interp(expr, expected):
    got = evaluate(expr, PARAMS)
    if isinstance(expected, float):
        assert got == pytest.approx(expected), expr
    else:
        assert got == expected, expr


def test_functions_registry():
    fns = {"double": lambda v: v * 2, "strlen": lambda s: float(len(s))}
    assert evaluate("double(value) + 1", PARAMS, fns) == 51.0
    assert evaluate("strlen(s)", PARAMS, fns) == 3.0
    with pytest.raises(ExpressionError):
        evaluate("nosuchfn(1)", PARAMS, fns)


def test_type_errors():
    with pytest.raises(ExpressionError):
        evaluate("s - 1", PARAMS)
    with pytest.raises(ExpressionError):
        evaluate("x && true", PARAMS)
    with pytest.raises(ExpressionError):
        evaluate("value ? 1 : 2", PARAMS)
    with pytest.raises(ExpressionError):
        evaluate("[missing]", PARAMS)


def test_parse_errors():
    for bad in ("", "1 +", "(1", "1 ~~ 2", "'unterminated"):
        with pytest.raises(ExpressionError):
            evaluate(bad, PARAMS)


# ---------------------------------------------------------- backend parity

# Expressions evaluated over DataFrame rows by BOTH backends.
COLUMN_EXPRS = [
    "value * 2",
    "value + 200",
    "value * 1.5 - x",
    "value / 7 > 3 ? value : x",
    "value % 4",
    "2 ** x",
    "(value > 20 && x > 5) || flag",
    "!flag",
    "-value + (x * 2)",
    "s + '!'",
    "'v=' + value",
    "s =~ 'a.c'",
    "x in (1, 7, 9)",
    "value > 20 ? 'hot' : 'cold'",
    "(x > 100 ? 'big') ?? 'dflt'",
    "6 & x",
    "x << 2",
    "~x",
    "value >= 25",
    "s == 'abc'",
]


def test_column_backend_matches_interp(spark):
    rows = [
        (25.0, 7, "abc", True),
        (3.0, 100, "zzz", False),
        (0.0, 0, "a c", True),
        (19.99, -3, "abc", False),
    ]
    df = spark.createDataFrame(
        rows, "value double, x int, s string, flag boolean"
    )
    types = types_from_schema(df)
    cols = [
        compile_column(e, types=types).alias(f"e{i}")
        for i, e in enumerate(COLUMN_EXPRS)
    ]
    got = df.select(*cols).collect()
    for row_in, row_out in zip(rows, got):
        params = dict(zip(("value", "x", "s", "flag"), row_in))
        for i, e in enumerate(COLUMN_EXPRS):
            expected = evaluate(e, params)
            actual = row_out[i]
            if isinstance(expected, float):
                assert actual == pytest.approx(expected), (e, params)
            else:
                assert actual == expected, (e, params)


def test_constant_folding_in_catalyst(spark):
    # literal-only expression must fold to a literal in the optimized plan
    df = spark.range(1).select(compile_column("2 * 3 + 4").alias("c"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "10.0" in plan
    assert df.collect()[0][0] == 10.0


def test_date_literals():
    assert evaluate("'2024-01-01 00:00:10' - '2024-01-01'", {}) == 10.0


def test_missing_param_message():
    with pytest.raises(ExpressionError, match="missing parameter"):
        evaluate("nope * 2", {})


# ---- E24: SQL renderer (govaluate ToSQLQuery conventions) ----------

SQL_CASES = [
    # (expression, duckdb-compatible params as SQL literals)
    "value * 2",
    "value + 200",
    "(value + 1) * 3 - 4 / 2",
    "2 ** 10",
    "7.5 % 2",
    "value > 10 && value < 100",
    "value == 25 || value != 25",
    "value >= 25 ?? 99",
    "-value + 1",
]


def test_to_sql_rendering_conventions():
    from baseline_magician_spark.expr import parse, to_sql

    assert to_sql(parse("a == b")) == "(a = b)"
    assert to_sql(parse("a != b")) == "(a <> b)"
    assert to_sql(parse("a =~ 'x.*'")) == "(a RLIKE 'x.*')"
    assert to_sql(parse("a ?? 5")) == "COALESCE(a, 5)"
    assert to_sql(parse("2 ** 8")) == "POW(2, 8)"
    assert to_sql(parse("a % 2")) == "MOD(a, 2)"
    assert to_sql(parse("true && false")) == "(1 AND 0)"
    assert to_sql(parse("[my var] + 1")) == "(my var + 1)"
    assert to_sql(parse("a in (1, 2, 3)")) == "(a IN (1, 2, 3))"


def test_to_sql_ternary_unsupported():
    from baseline_magician_spark.expr import ExpressionError, parse, to_sql

    with pytest.raises(ExpressionError):
        to_sql(parse("a > 1 ? 2 : 3"))


@pytest.mark.parametrize("src", SQL_CASES)
def test_to_sql_executes_in_duckdb(src):
    """Rendered SQL must evaluate to the interpreter's value in a real
    SQL engine (numeric expressions; booleans render as 1/0)."""
    import duckdb

    from baseline_magician_spark.expr import evaluate, parse, to_sql

    sql = to_sql(parse(src)).replace("value", "25.0")
    got = duckdb.sql(f"SELECT {sql} AS v").fetchone()[0]
    want = evaluate(parse(src), {"value": 25.0})
    if isinstance(want, bool):
        want = 1 if want else 0
    assert got == pytest.approx(want)


def test_compiled_in_is_type_strict(spark):
    from pyspark.sql import functions as F

    from baseline_magician_spark.expr.compiler import compile_column

    df = spark.range(1)
    got = df.select(
        compile_column("true in (1, 2)").alias("a"),
        compile_column("true in (1, true)").alias("b"),
        compile_column("1 in (1, true)").alias("c"),
    ).collect()[0]
    assert (got["a"], got["b"], got["c"]) == (False, True, True)


def test_profile_table_handles_exotic_column_names(spark):
    from baseline_magician_spark.operators.profiling import profile_table

    df = spark.createDataFrame([(1, "x")], ["ok", "we`ird'name"])
    rows = profile_table(df).collect()
    assert {r["column"] for r in rows} == {"ok", "we`ird'name"}


def test_go_float_edges_are_values_not_exceptions():
    assert math.isnan(evaluate("0 / 0", {}))
    assert math.isnan(evaluate("1 % 0", {}))
    assert math.isnan(evaluate("(0 - 2) ** 0.5", {}))


def test_bare_ternary_else_is_nil_coalesce():
    assert evaluate("'foo' : 'bar'", {}) == "foo"
    assert evaluate("(1 > 2 ? 'a') : 'bar'", {}) == "bar"
    assert evaluate("false ? 1 : true ? 2 : 3", {}) == 2.0


def test_keywords_are_case_exact():
    # 'True' is a VARIABLE in govaluate, not the boolean literal
    assert evaluate("True + 1", {"True": 5.0}) == 6.0
    with pytest.raises(ExpressionError, match="missing parameter"):
        evaluate("TRUE", {})


def test_compiled_equality_is_null_safe(spark):
    got = spark.range(1).select(
        compile_column("25.0 == (false ? 1)").alias("eq"),
        compile_column("25.0 != (false ? 1)").alias("ne"),
    ).collect()[0]
    assert got["eq"] is False and got["ne"] is True


def test_compiled_division_matches_go_edges(spark):
    got = spark.range(1).select(
        compile_column("1 / 0").alias("pinf"),
        compile_column("(0 - 1) / 0").alias("ninf"),
        compile_column("0 / 0").alias("nan"),
        compile_column("1 % 0").alias("modnan"),
    ).collect()[0]
    assert got["pinf"] == math.inf and got["ninf"] == -math.inf
    assert math.isnan(got["nan"]) and math.isnan(got["modnan"])


# Threshold truncation on edge values (plans.baseline.cast_to_uint via
# apply_thresholds): value -> float64 -> expression -> uint truncation
# (negative and NaN -> 0, +Inf and overflow saturate at 2^63 - 1) ->
# bits channels /1024/1024 -> zero deactivates the flag.
LONG_MAX = 9223372036854775807
THRESHOLD_EDGES = [
    ("incoming_packets", "value - 2000", "pps", 0, False),
    ("incoming_packets", "0 / 0", "pps", 0, False),
    ("incoming_packets", "value / 0", "pps", LONG_MAX, True),
    ("incoming_packets", "value * 1e30", "pps", LONG_MAX, True),
    ("incoming_bits", "value / 0", "mbps", 8796093022208, True),
    ("incoming_bits", "value * 1e30", "mbps", 8796093022208, True),
    ("incoming_bits", "value * 2", "mbps", 0, False),  # below 1 MiB
]


def test_threshold_truncation_edges(spark):
    from baseline_magician_spark.plans.baseline import (
        apply_thresholds,
        compile_channel_expressions,
    )

    row = spark.createDataFrame(
        [(1000, 2000)], "packets_incoming long, bits_incoming long"
    )
    for channel, src, unit, threshold, flag in THRESHOLD_EDGES:
        exprs = compile_channel_expressions({channel: src})
        got = apply_thresholds(row, exprs).first()
        case = (channel, src)
        assert got[f"threshold_{unit}_incoming"] == threshold, case
        assert got[f"ban_for_{unit}_incoming"] is flag, case
