"""Invariant tests for the RAG/screening operators added in round 3:
overlapping chunking, Bloom-filter membership, TF-IDF top terms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (0, ""),                           # empty
        (1, "a" * 199),                    # just under one chunk
        (2, "b" * 200),                    # exactly one chunk
        (3, "c" * 201),                    # one char spill
        (4, "d" * 1000),                   # many chunks
        (5, "hello world " * 40),          # 480 chars
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunking_covers_every_char_with_exact_overlap(spark, texts):
    from baseline_magician_spark.operators.chunking import chunk_documents

    size, overlap = 200, 40
    stride = size - overlap
    chunks = chunk_documents(texts, "doc_id", "text", size, overlap)
    rows = chunks.orderBy("doc_id", "chunk_id").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    originals = {r.doc_id: r.text for r in texts.collect()}
    for doc_id, text in originals.items():
        cs = by_doc[doc_id]
        # chunk 0 starts at 0; consecutive starts advance by stride
        assert cs[0].chunk_start == 0
        for a, b in zip(cs, cs[1:]):
            assert b.chunk_start - a.chunk_start == stride
            # consecutive chunks share exactly `overlap` characters
            assert a.chunk_text[stride:] == b.chunk_text[: len(a.chunk_text) - stride]
        # reassembly: first chunk + each successor's non-overlap tail
        rebuilt = cs[0].chunk_text + "".join(
            c.chunk_text[overlap:] for c in cs[1:]
        )
        assert rebuilt == text, f"doc {doc_id} not covered"
        # no chunk exceeds size; only the last may be shorter
        assert all(c.chunk_len <= size for c in cs)
        assert all(c.chunk_len == size for c in cs[:-1]) or len(cs) == 1


def test_chunking_chunk_counts(spark, texts):
    from baseline_magician_spark.operators.chunking import chunk_documents

    counts = {
        r.doc_id: r.n
        for r in chunk_documents(texts, "doc_id", "text", 200, 40)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # ceil((len-200)/160)+1, min 1
    assert counts == {0: 1, 1: 1, 2: 1, 3: 2, 4: 6, 5: 3}


def test_chunking_rejects_bad_overlap(spark, texts):
    from baseline_magician_spark.operators.chunking import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(texts, "doc_id", "text", 100, 100)
    with pytest.raises(ValueError):
        chunk_documents(texts, "doc_id", "text", 100, -1)


def test_bloom_never_false_negative(spark):
    from baseline_magician_spark.operators.bloom import (
        bloom_probe,
        build_bloom,
    )

    keys = spark.createDataFrame(
        [(f"member-{i}",) for i in range(300)], "k string"
    )
    others = spark.createDataFrame(
        [(f"outsider-{i}",) for i in range(300)], "k string"
    )
    bloom = build_bloom(keys, "k", m=1024)
    probed = bloom_probe(keys.union(others), "k", bloom, m=1024)
    got = {r.k: r.bloom_pass for r in probed.collect()}
    # every true member passes — a Bloom filter NEVER false-negatives
    assert all(got[f"member-{i}"] for i in range(300))
    # and at this fill ratio some outsiders must be rejected
    assert sum(not got[f"outsider-{i}"] for i in range(300)) > 100


def test_bloom_deterministic_under_repartition(spark):
    from baseline_magician_spark.operators.bloom import (
        bloom_probe,
        build_bloom,
    )

    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(100)], "k string"
    )
    probe = spark.createDataFrame(
        [(f"p{i}",) for i in range(500)], "k string"
    )
    a = bloom_probe(probe, "k", build_bloom(keys, "k"))
    b = bloom_probe(
        probe.repartition(7), "k", build_bloom(keys.repartition(5), "k")
    )
    assert {(r.k, r.bloom_pass) for r in a.collect()} == {
        (r.k, r.bloom_pass) for r in b.collect()
    }


def test_tfidf_ranks_distinctive_terms_first(spark):
    from baseline_magician_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "common common rare0 rare0 rare0"),
            (1, "common rare1"),
            (2, "common rare2"),
            (3, "common rare3"),
            (4, "common d4 c4 b4 a4"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs).collect()
    top = {r.doc_id: r.term for r in out if r.rank == 1}
    # the doc-specific term always outranks the corpus-wide one; equal
    # scores rank by term
    assert top == {0: "rare0", 1: "rare1", 2: "rare2", 3: "rare3", 4: "a4"}
    by_key = {(r.doc_id, r.term): r for r in out}
    r0 = by_key[(0, "rare0")]
    assert r0.tf == 3 and r0.df == 1
    # the 2-term docs contribute both terms; doc 4 is cut to the top 3
    assert len(out) == 8 + 3
    assert sorted(r.term for r in out if r.doc_id == 4) == ["a4", "b4", "c4"]


def test_chunking_invariants_property(spark):
    """Property test over random (length, size, overlap): full
    coverage, exact overlap, count formula — driver-side spine math
    mirrored against the operator's distributed output."""
    import random

    from baseline_magician_spark.operators.chunking import chunk_documents

    rng = random.Random(4242)
    rows = []
    params = []
    for doc_id in range(40):
        n = rng.randint(0, 700)
        rows.append((doc_id, "".join(rng.choice("abcdef ") for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for _ in range(6):
        size = rng.randint(2, 120)
        overlap = rng.randint(0, size - 1)
        params.append((size, overlap))
    texts = {r[0]: r[1] for r in rows}
    for size, overlap in params:
        stride = size - overlap
        out = chunk_documents(df, "doc_id", "text", size, overlap)
        by_doc: dict[int, list] = {}
        for r in out.collect():
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text in texts.items():
            cs = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
            n = len(text)
            want = 1 if n <= size else (n - size + stride - 1) // stride + 1
            assert len(cs) == want, (doc_id, size, overlap)
            rebuilt = cs[0].chunk_text + "".join(
                c.chunk_text[overlap:] for c in cs[1:]
            )
            assert rebuilt == text, (doc_id, size, overlap)


def test_dsir_target_docs_score_higher(spark):
    """DSIR sanity: documents FROM the target slice must average a
    higher importance weight than documents outside it — the defining
    property of the log-likelihood-ratio scorer."""
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.text import (
        dsir_importance_weights,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")
    scores = dsir_importance_weights(docs)
    joined = scores.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in joined.groupBy(
            (F.col("lang") == "en").alias("is_en")
        )
        .agg(F.avg("dsir_score_micro").alias("m"))
        .collect()
    }
    assert means[True] > means[False], means
    # and weights are integers (micro-nats), so exactly reproducible
    assert dict(scores.dtypes)["dsir_score_micro"] == "bigint"
