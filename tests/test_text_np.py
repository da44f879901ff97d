"""shingle_term_relation (the Arrow-batched distinct-shingle-term
kernel) must be row-identical — terms AND hashes — to the JVM
expression rendering the oracles replay: array_distinct(
token_shingles(...)) exploded, with poly_hash(term)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.functions.hashing import (
    poly_hash,
    token_shingles,
)
from baseline_magician_spark.operators.dedup import shingle_term_relation

ADVERSARIAL = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The Quick BROWN fox JUMPS over the lazy dog"),
    (3, ""),
    (4, None),
    (5, "   "),
    (6, "one two"),
    (7, "one two three"),
    (8, "  leading and trailing   spaces padded   "),
    (9, "tabs\tand\nnewlines\x0bvertical\ffeed\rreturn split"),
    (10, "unicode éè€ tokens 你好世界 mixed ascii"),
    (11, "emoji \U0001f600 astral \U0001d11e plane tokens here"),
    (12, "a b a b a b a b repeated shingles dedup here"),
    (13, "x" * 300 + " one very long token stream here"),
]


def _jvm(df, text_col, n):
    return df.select(
        "doc_id",
        F.explode(
            F.array_distinct(token_shingles(text_col, n))
        ).alias("term"),
    ).select("doc_id", "term", poly_hash(F.col("term")).alias("_h"))


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id int, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_terms_and_hashes_equal_jvm_adversarial(adv_df):
    got = _rows(
        shingle_term_relation(adv_df, "text", id_cols=("doc_id",))
    )
    want = _rows(_jvm(adv_df, F.col("text"), 3))
    assert got == want
    assert len(want) > 0


def test_lowercased_column_expression(adv_df):
    got = _rows(
        shingle_term_relation(
            adv_df, F.lower(F.col("text")), id_cols=("doc_id",)
        )
    )
    want = _rows(_jvm(adv_df, F.lower(F.col("text")), 3))
    assert got == want


def test_on_real_documents(spark):
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = _rows(
        shingle_term_relation(
            docs.select("doc_id", F.lower(F.col("text")).alias("text")),
            "text",
            id_cols=("doc_id",),
        )
    )
    want = _rows(
        _jvm(
            docs.select("doc_id", F.lower(F.col("text")).alias("text")),
            F.col("text"),
            3,
        )
    )
    assert got == want
    assert len(want) > 0


def test_extra_id_cols_pass_through(spark):
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = shingle_term_relation(
        docs, "text", id_cols=("doc_id", "lang")
    )
    assert out.columns == ["doc_id", "lang", "term", "_h"]
    joined = out.join(
        docs.select("doc_id", F.col("lang").alias("_l")), "doc_id"
    )
    assert joined.where(F.col("lang") != F.col("_l")).count() == 0
