"""Binary quantization (round 10, operators/similarity.py): sign
bits after per-row mean centering, packed 64 dims per long word —
the 32x-compacted ANN serving corpus — plus the Hamming top-k and
the prefilter+exact-rerank pattern.

The packing ring: Spark's packed words / popcount(xor) must equal a
plain Python positional-disagreement model (which is also what the
DuckDB oracle computes over UNPACKED sign lists), including bit 63
and multi-word (dim > 64) vectors.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from baseline_magician_spark.operators.similarity import (
    binary_hamming_topk,
    binary_quantize,
    binary_rerank_topk,
)


def _bits_py(vec: list[float]) -> list[bool]:
    mu = 0.0
    for x in vec:
        mu += x
    mu /= len(vec)
    return [x - mu >= 0 for x in vec]


def _words_py(bits: list[bool]) -> list[int]:
    out = []
    for w0 in range(0, len(bits), 64):
        word = 0
        for i, b in enumerate(bits[w0 : w0 + 64]):
            if b:
                word |= 1 << i
        if word >= 1 << 63:
            word -= 1 << 64  # signed-long carrier
        out.append(word)
    return out


def _vecs(n: int, dim: int, seed: int) -> list[tuple[int, list[float]]]:
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-2.0, 9.0) for _ in range(dim)])
        for i in range(n)
    ]


def test_packing_matches_python_model_including_bit63(spark):
    for dim in (64, 70, 3):
        rows = _vecs(12, dim, seed=dim)
        # force a guaranteed-set bit 63 on one row (huge value there)
        if dim >= 64:
            rows[0] = (rows[0][0], rows[0][1][:63] + [1e9] + rows[0][1][64:])
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        got = {
            r["vec_id"]: (r["dim"], r["words"])
            for r in binary_quantize(df).collect()
        }
        for vid, vec in rows:
            assert got[vid] == (dim, _words_py(_bits_py(vec))), (
                dim,
                vid,
            )


def test_hamming_topk_matches_positional_model(spark):
    rows = _vecs(30, 64, seed=7)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = df.where(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): r["hamming"]
        for r in binary_hamming_topk(df, queries, k=30).collect()
    }
    bits = {vid: _bits_py(v) for vid, v in rows}
    for (q, n), h in got.items():
        want = sum(a != b for a, b in zip(bits[q], bits[n]))
        assert h == want, (q, n)


def test_rerank_is_subset_of_prefilter_and_ranked(spark):
    rows = _vecs(60, 64, seed=21)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = df.where(F.col("vec_id") < 4)
    cand = {
        (r["query_id"], r["neighbor_id"])
        for r in binary_hamming_topk(df, queries, k=40).collect()
    }
    out = binary_rerank_topk(df, queries).collect()
    per_q: dict[int, list] = {}
    for r in out:
        assert (r["query_id"], r["neighbor_id"]) in cand
        per_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["cosine_sim"])
        )
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), q
        sims = [x[1] for x in rs]
        assert sims == sorted(sims, reverse=True), q


def test_repartition_invariant(spark):
    rows = _vecs(40, 64, seed=3)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = df.where(F.col("vec_id") < 2)
    a = sorted(
        map(tuple, binary_hamming_topk(df, queries, k=10).collect())
    )
    b = sorted(
        map(
            tuple,
            binary_hamming_topk(
                df.repartition(7), queries, k=10
            ).collect(),
        )
    )
    assert a == b
