"""The ANN operators' numpy kernels must be row-identical to the
expression renderings in tests/expr_twins.py (the oracle-replayable
spellings): same left-to-right fold order, same Double.compare
tie/NaN ordering for every argmax/argmin/sort, same rounding
(rounding stays JVM-side in all callers). ``brute_force_topk`` runs
the cosine expression itself, so its pin runs the other way: against
the numpy pairwise cosine kernel of an exhaustive IVF probe."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.operators.similarity import (
    N_PROBE,
    N_QUERY_VECS,
    brute_force_topk,
    ivf_cell_report,
    ivf_topk,
    ivf_train_step_flat,
    ivfpq_topk,
    pq_adc_topk,
    pq_codebooks_from_seeds,
    pq_encode,
    semantic_keep_best,
)
from tests import expr_twins as twins

DIM = 8


def _mkvec(seed: int) -> list[float]:
    # deterministic, sign-mixed, includes exact ties across rows
    return [
        math.sin(seed * 31 + j) if seed % 7 else 0.25 * (j % 3 - 1)
        for j in range(DIM)
    ]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, _mkvec(i)) for i in range(64)]
    # exact duplicates (cosine ties) and a negated duplicate (cosine
    # -1 ties). NO zero vector: the expression rendering itself
    # throws ANSI DIVIDE_BY_ZERO on a zero-norm row (double division
    # by zero is an error under ANSI mode), so zero vectors are out of
    # contract for the cosine operators.
    rows.append((64, rows[10][1]))
    rows.append((66, [-x for x in rows[12][1]]))
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    return df.select("vec_id", F.col("v").alias("embedding"))


@pytest.fixture(scope="module")
def cents(emb):
    return sorted(
        (int(r[0]), list(r[1]))
        for r in emb.where(F.col("vec_id") < 6)
        .select("vec_id", "embedding")
        .collect()
    )


@pytest.fixture(scope="module")
def books(cents):
    return pq_codebooks_from_seeds(cents)


def _rows(df):
    return sorted(
        tuple(
            tuple(x) if isinstance(x, list) else x
            for x in r
        )
        for r in df.collect()
    )


def _pin(runtime_df, twin_df):
    got, want = _rows(runtime_df), _rows(twin_df)
    assert got == want
    assert len(want) > 0


def test_brute_force_topk(emb, cents):
    # probing every cell makes IVF exhaustive: same pairs, same ranks
    # (N_PROBE cells, so IVF over the first N_PROBE centroids)
    q = emb.where(F.col("vec_id") < N_QUERY_VECS)
    _pin(brute_force_topk(emb, q), ivf_topk(emb, cents[:N_PROBE]))


def test_ivf_topk(emb, cents):
    _pin(
        ivf_topk(emb, cents),
        twins.ivf_topk_expr(emb, cents),
    )


def test_ivf_train_step_flat(emb, cents):
    _pin(
        ivf_train_step_flat(emb, centroids=cents),
        twins.ivf_train_step_flat_expr(emb, cents),
    )


def test_pq_encode(emb, books):
    _pin(
        pq_encode(emb, books),
        twins.pq_encode_expr(emb, books),
    )


def test_pq_adc_topk(emb, books):
    _pin(
        pq_adc_topk(emb, codebooks=books),
        twins.pq_adc_topk_expr(emb, books),
    )


def test_ivfpq_topk(emb, cents, books):
    _pin(
        ivfpq_topk(emb, cents, books),
        twins.ivfpq_topk_expr(emb, cents, books),
    )


def test_semantic_keep_best(emb, cents):
    _pin(
        semantic_keep_best(emb, cents),
        twins.semantic_keep_best_expr(emb, cents),
    )


def test_ivf_cell_report(emb, cents):
    _pin(ivf_cell_report(emb, cents), twins.ivf_cell_report_expr(emb, cents))


def test_cell_report_single_centroid_null_c2(emb, cents):
    # K = 1: the runner-up cosine is NULL on both renderings
    _pin(
        ivf_cell_report(emb, cents[:1]),
        twins.ivf_cell_report_expr(emb, cents[:1]),
    )


def test_on_real_embeddings(spark):
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = sorted(
        (int(r[0]), list(r[1]))
        for r in emb.where(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    )
    books = pq_codebooks_from_seeds(cents)
    _pin(
        ivfpq_topk(emb, cents, books),
        twins.ivfpq_topk_expr(emb, cents, books),
    )
    _pin(ivf_cell_report(emb, cents), twins.ivf_cell_report_expr(emb, cents))


def test_dkeys_total_order():
    import numpy as np

    from baseline_magician_spark.operators.similarity import _np_dkeys

    vals = np.array(
        [float("nan"), float("inf"), 1.5, 1.5000000000000002, 0.0,
         -0.0, -1.5, float("-inf"), 5e-324, -5e-324]
    )
    keys = _np_dkeys(vals)
    order = [vals[i] for i in np.argsort(keys, kind="stable")]
    # java.lang.Double.compare order: -inf < -1.5 < -min < -0.0 < 0.0
    # < +min < 1.5 < next(1.5) < inf < NaN
    want = [float("-inf"), -1.5, -5e-324, -0.0, 0.0, 5e-324, 1.5,
            1.5000000000000002, float("inf"), float("nan")]
    assert [str(x) for x in order] == [str(x) for x in want]
    # -0.0 sorts strictly below 0.0
    import struct
    assert struct.pack(">d", order[3]) == struct.pack(">d", -0.0)


def test_lsh_bucket_relation_equals_expression(emb):
    from baseline_magician_spark.operators.similarity import (
        _lsh_bucket_relation,
        norm,
    )

    for center in (False, True):
        got = _rows(
            _lsh_bucket_relation(
                emb,
                keep=("vec_id",),
                vec_col="embedding",
                n_planes=8,
                center=center,
                with_norm=True,
            )
        )
        want = _rows(
            emb.select(
                "vec_id",
                norm(F.col("embedding")).alias("_n"),
                twins.lsh_bucket(
                    F.col("embedding"), 8, center=center
                ).alias("_bucket"),
            )
        )
        assert got == want
        assert len(want) > 0
