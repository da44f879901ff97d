"""Content-defined chunking (round 9, operators/cdc.py): the
properties the operator exists for, independent of the DuckDB
oracle parity the driver checks.

- Partition: chunks tile the document exactly (starts/lens
  reconstruct the text, no gaps or overlaps).
- Shift invariance: prepending a prefix leaves every boundary that
  is at least WINDOW chars past the insertion at the same CONTENT
  position — the property that re-aligns duplicate content for
  sub-document dedup (fixed-size blocks lose it).
- Determinism under repartitioning: the boundary decision is a pure
  per-row function, so output is identical at any parallelism.

The properties run against ``cdc_chunks_pandas``, the chunker every
CDC query runs; one pin holds it row-identical to the expression
rendering in tests/expr_twins.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from baseline_magician_spark.operators.cdc import (
    WINDOW,
    cdc_chunks_pandas,
    cdc_shared_chunks,
)
from tests.expr_twins import cdc_chunks_expr

DOC = (
    "the quick brown fox jumps over the lazy dog while a train of "
    "careful tokens rolls across the window boundary again and "
    "again until the rolling state forgets everything older than "
    "its own tail and the cut points depend on content alone"
)


def _chunks(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["doc_id"], r["chunk_ord"]): (
            r["chunk_start"],
            r["chunk_len"],
            r["chunk_fp"],
        )
        for r in cdc_chunks_pandas(df).collect()
    }


def test_chunks_tile_the_document(spark):
    got = _chunks(spark, [(1, DOC)])
    spans = [v for (_d, _o), v in sorted(got.items())]
    assert spans[0][0] == 1
    pos = 1
    for start, ln, _fp in spans:
        assert start == pos and ln >= 1
        pos += ln
    assert pos - 1 == len(DOC)


def test_shift_invariance_realigns_boundaries(spark):
    prefix = "INSERTED-PREFIX-0123456789: "
    got = _chunks(spark, [(1, DOC), (2, prefix + DOC)])
    b1 = {
        start + ln - 1
        for (d, _o), (start, ln, _fp) in got.items()
        if d == 1
    }
    b2 = {
        start + ln - 1 - len(prefix)
        for (d, _o), (start, ln, _fp) in got.items()
        if d == 2
    }
    stable1 = {b for b in b1 if b >= WINDOW and b < len(DOC)}
    # every interior boundary of the unshifted doc that has a full
    # window of shared context reappears at the same content offset
    assert stable1, "test document produced no interior boundaries"
    assert stable1 <= b2


def test_empty_and_tiny_documents(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab")], "doc_id long, text string"
    )
    rows = cdc_chunks_pandas(df).collect()
    ids = {r["doc_id"] for r in rows}
    assert 1 not in ids  # empty doc -> no chunks
    for d, txt in ((2, "a"), (3, "ab")):
        spans = sorted(
            (r["chunk_start"], r["chunk_len"])
            for r in rows
            if r["doc_id"] == d
        )
        assert spans[0][0] == 1
        assert sum(ln for _s, ln in spans) == len(txt)


def test_pandas_path_value_identical_to_jvm(spark):
    """The sliding-recurrence mapInPandas chunker must emit exactly
    the expression slice-fold's rows — same constants, same codepoint
    stream, same spans, same fingerprints — including multibyte
    codepoints and boundary-free tiny docs."""
    import random

    rng = random.Random(17)
    rows = [
        (i, "".join(rng.choice("abcdef ghijé世") for _ in range(n)))
        for i, n in enumerate([0, 1, 5, 33, 64, 200, 401])
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, cdc_chunks_expr(df).collect()))
    b = sorted(map(tuple, cdc_chunks_pandas(df).collect()))
    assert a == b
    assert a, "non-empty docs must produce chunks"


def test_repartition_invariant_and_shared_chunks(spark):
    import random

    # NON-periodic shared content: a repeated phrase has only
    # period-many distinct rolling states, and if none hits the mask
    # the whole run cuts no boundary (observed — (63/64)^period odds)
    rng = random.Random(7)
    shared = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(420)
    )
    rows = [
        (1, "left " + shared + " tail one"),
        (2, "a different head " + shared + " other tail"),
        (3, "unrelated text with nothing in common here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, cdc_chunks_pandas(df).collect()))
    b = sorted(map(tuple, cdc_chunks_pandas(df.repartition(7)).collect()))
    assert a == b
    dup = cdc_shared_chunks(df).collect()
    assert any(r["n_docs"] >= 2 for r in dup), (
        "duplicated run across docs 1 and 2 must surface at least "
        "one shared chunk fingerprint"
    )


def test_pandas_path_preserves_string_doc_ids(spark):
    """The mapInPandas schema takes the id field's dtype from the
    SOURCE column (ADVICE r9) — string doc ids must round-trip with
    the same spans a long-id rendering of the same texts produces."""
    rows = [("doc-a", DOC), ("doc-b", "short one"), ("doc-c", DOC + " tail")]
    sdf = spark.createDataFrame(rows, "doc_id string, text string")
    got = cdc_chunks_pandas(sdf).collect()
    assert got and dict(cdc_chunks_pandas(sdf).dtypes)["doc_id"] == "string"
    by_id = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(
            (r["chunk_ord"], r["chunk_start"], r["chunk_len"], r["chunk_fp"])
        )
    ldf = spark.createDataFrame(
        [(i, t) for i, (_s, t) in enumerate(rows)], "doc_id long, text string"
    )
    by_num = {}
    for r in cdc_chunks_pandas(ldf).collect():
        by_num.setdefault(r["doc_id"], []).append(
            (r["chunk_ord"], r["chunk_start"], r["chunk_len"], r["chunk_fp"])
        )
    for i, (sid, _t) in enumerate(rows):
        assert sorted(by_id[sid]) == sorted(by_num[i])


def test_duplication_ratio_bounds_and_signal(spark):
    """cdc_duplication_ratio: ratios in [0, 1]; a doc sharing a long
    run with another doc scores high; a unique-content doc scores 0;
    dup_chars never exceeds n_chars."""
    import random

    from baseline_magician_spark.operators.cdc import (
        cdc_duplication_ratio,
    )

    rng = random.Random(11)
    shared = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(500)
    )
    uniq = "".join(
        rng.choice("0123456789+-*/=#@!%&") for _ in range(300)
    )
    rows = [
        (1, "head " + shared + " tail"),
        (2, "other prefix " + shared + " different suffix"),
        (3, uniq),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in cdc_duplication_ratio(df).collect()
    }
    for i, t in rows:
        r = got[i]
        assert r["n_chars"] == len(t)
        assert 0 <= r["dup_chars"] <= r["n_chars"], i
        assert 0.0 <= r["dup_ratio"] <= 1.0, i
    assert got[1]["dup_ratio"] > 0.5, "shared-run doc must score high"
    assert got[2]["dup_ratio"] > 0.5
    assert got[3]["dup_ratio"] == 0.0, "unique doc must score 0"
