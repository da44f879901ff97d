"""The numpy MinHash, shingle and SimHash relations must be
row-identical to their expression renderings in tests/expr_twins.py
(the oracle-replayable spellings) — same tokenizer, same codepoint
stream, same fold constants, same band hashes."""

from __future__ import annotations

import pytest

from baseline_magician_spark.operators.dedup import (
    minhash_band_relation,
    shingle_hash_relation,
    simhash_relation,
)
from tests import expr_twins as twins

ADVERSARIAL = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, ""),
    (4, None),
    (5, "   "),
    (6, "one two"),  # < shingle_n tokens -> no shingles
    (7, "one two three"),  # exactly one shingle
    (8, "  leading and trailing   spaces padded   "),
    (9, "tabs\tand\nnewlines\x0bvertical\ffeed\rreturn split"),
    (10, "unicode éè€ tokens 你好世界 mixed ascii"),
    (11, "emoji \U0001f600 astral \U0001d11e plane tokens here"),
    (12, "nbsp is not java whitespace so it glues tokens"),
    (13, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (14, "repeat repeat repeat repeat repeat repeat repeat"),
    (15, "x" * 400 + " tail token stream"),  # one very long token
    (16, "short a b"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id int, text string")


def test_band_relation_pandas_equals_jvm_adversarial(adv_df):
    got = _rows(minhash_band_relation(adv_df, "text", "doc_id"))
    want = _rows(twins.minhash_band_relation_expr(adv_df, "text", "doc_id"))
    assert got == want
    assert len(want) > 0


def test_band_relation_pandas_equals_jvm_documents(spark):
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = _rows(minhash_band_relation(docs, "text", "doc_id"))
    want = _rows(twins.minhash_band_relation_expr(docs, "text", "doc_id"))
    assert got == want
    assert len(want) > 0


def test_band_relation_string_ids(spark):
    df = spark.createDataFrame(
        [(f"id-{i}", t) for i, t in ADVERSARIAL if t],
        "doc_id string, text string",
    )
    got = _rows(minhash_band_relation(df, "text", "doc_id"))
    want = _rows(twins.minhash_band_relation_expr(df, "text", "doc_id"))
    assert got == want


def test_band_relation_nondefault_params(adv_df):
    got = _rows(
        minhash_band_relation(
            adv_df, "text", "doc_id", k=6, rows_per_band=3, shingle_n=2
        )
    )
    want = _rows(
        twins.minhash_band_relation_expr(
            adv_df, "text", "doc_id", k=6, rows_per_band=3, shingle_n=2
        )
    )
    assert got == want


def test_shingle_relation_pandas_equals_jvm(adv_df, spark):
    from tests.conftest import SF_SMOKE

    got = _rows(shingle_hash_relation(adv_df, "text", "doc_id"))
    want = _rows(twins.shingle_hash_relation_expr(adv_df, "text", "doc_id"))
    assert got == want
    assert len(want) > 0

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for n in (2, 3, 5):
        got = _rows(shingle_hash_relation(docs, "text", "doc_id", n=n))
        want = _rows(
            twins.shingle_hash_relation_expr(docs, "text", "doc_id", n=n)
        )
        assert got == want


def test_simhash_relation_pandas_equals_jvm(adv_df, spark):
    from tests.conftest import SF_SMOKE

    got = _rows(simhash_relation(adv_df, "text", "doc_id"))
    want = _rows(twins.simhash_relation_expr(adv_df, "text", "doc_id"))
    assert got == want
    # degenerate rows really exercised: a NULL text and a no-token doc
    by_id = {r[0]: r[1] for r in got}
    assert by_id[4] is None  # NULL text -> NULL fingerprint
    assert by_id[5] == (1 << 30) - 1  # zero tokens -> all bits set

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for bits in (30, 20):
        got = _rows(simhash_relation(docs, "text", "doc_id", bits=bits))
        want = _rows(
            twins.simhash_relation_expr(docs, "text", "doc_id", bits=bits)
        )
        assert got == want
