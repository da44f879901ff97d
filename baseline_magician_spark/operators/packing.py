"""Sequence packing for training-data pipelines: the concat-and-chunk
policy (documents concatenated in a deterministic order, then split
into fixed-length context windows) that GPT-style pretraining uses.

Scale shape: a single global concatenation order would funnel the
running token sum through ONE window partition — a driver-sized
bottleneck at 100 TB. Packing instead runs per *stream bucket*
(``doc_id % N_BUCKETS``): each bucket is an independent token stream
packed in parallel, one uniform shuffle on the bucket key, and the
chunk ids are globally unique as (bucket, chunk_in_bucket). Production
would bucket by a salted hash; the modulo keeps the policy reproducible
in any SQL engine (the oracle recomputes it verbatim).

No reference parity: the reference has no training-data surface at all
— this is part of the LLM-pipeline extension the engine adds on top of
the SURVEY §2 inventory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


CTX_LEN = 512  # tokens per training context window
N_BUCKETS = 8  # independent packing streams


def pack_sequences(docs: DataFrame, token_count: Column) -> DataFrame:
    """Assign each document its span in the packed token stream.

    Output, one row per input document with tokens:
    (doc_id, bucket, n_tok, start_offset, chunk_start, chunk_end) —
    ``start_offset`` is the document's first token position within its
    bucket's stream, ``chunk_start``/``chunk_end`` the CTX_LEN-sized
    windows the document lands in (a document longer than the residual
    window spans several chunks; cross-chunk attention masking is the
    trainer's concern, as in standard concat-and-chunk).
    """
    t = docs.select(
        F.col("doc_id").alias("doc_id"),
        (F.col("doc_id") % N_BUCKETS).alias("bucket"),
        token_count.alias("n_tok"),
    ).where(F.col("n_tok") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "start_offset", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return packed.select(
        "doc_id",
        "bucket",
        "n_tok",
        "start_offset",
        F.floor(F.col("start_offset") / CTX_LEN).alias("chunk_start"),
        F.floor((F.col("start_offset") + F.col("n_tok") - 1) / CTX_LEN).alias(
            "chunk_end"
        ),
    )


def chunk_manifest(packed: DataFrame) -> DataFrame:
    """Aggregate the packing into a per-chunk manifest:
    (bucket, chunk_id, n_docs, n_tokens_in_chunk) — the shape a data
    loader consumes. Documents spanning several chunks contribute their
    per-chunk token slice, so every full chunk sums to exactly
    CTX_LEN tokens."""
    spans = packed.select(
        "bucket",
        "doc_id",
        F.explode(
            F.sequence(F.col("chunk_start"), F.col("chunk_end"))
        ).alias("chunk_id"),
        "start_offset",
        "n_tok",
    )
    chunk_lo = F.col("chunk_id") * CTX_LEN
    chunk_hi = chunk_lo + CTX_LEN
    doc_lo = F.col("start_offset")
    doc_hi = doc_lo + F.col("n_tok")
    overlap = F.least(chunk_hi, doc_hi) - F.greatest(chunk_lo, doc_lo)
    return (
        spans.withColumn("tok_in_chunk", overlap)
        .groupBy("bucket", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_in_chunk").alias("n_tokens_in_chunk"),
        )
    )


BATCH_BUCKET_WIDTH = 8
BATCH_SIZE = 8


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    n_tokens_col: Column,
) -> DataFrame:
    """Length-bucketed batch assembly — the padding-minimization stage
    of an inference/training dataloader: documents group into
    BATCH_BUCKET_WIDTH-token length buckets, each bucket fills batches
    of BATCH_SIZE in deterministic id order, and every batch reports
    its padding efficiency (1 - sum/(n*max) is the fraction of the
    padded tensor that is padding).

    Plan shape: one map-side projection (bucket = n_tokens div
    BATCH_BUCKET_WIDTH),
    ONE shuffle for the per-bucket row_number window, then the
    per-batch aggregate rides the same partitioning. Buckets are the
    parallel unit at scale; batch ids are dense within each bucket so
    the loader can range-scan them.
    """
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        n_tokens_col.cast("long").alias("_nt"),
    ).withColumn(
        "bucket", (F.col("_nt") / BATCH_BUCKET_WIDTH).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy("_id")
    return (
        bucketed.withColumn(
            "batch_id",
            ((F.row_number().over(w) - 1) / BATCH_SIZE).cast("long"),
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("_nt").alias("max_tokens"),
            F.sum("_nt").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "batch_id",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            F.round(
                1
                - F.col("sum_tokens")
                / (F.col("n_docs") * F.col("max_tokens")),
                6,
            ).alias("padding_frac"),
        )
    )
