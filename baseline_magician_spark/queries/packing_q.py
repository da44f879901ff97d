"""Sequence-packing queries (concat-and-chunk training layout) over
`documents`, oracled by the same window-cumsum policy in DuckDB SQL.
Token counts ride on the shared cross-engine tokenizer fragment
(functions.hashing.tokens / tokens_duckdb).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute, load_table
from ..functions.hashing import tokens_duckdb
from ..operators.packing import (
    BATCH_BUCKET_WIDTH,
    BATCH_SIZE,
    CTX_LEN,
    N_BUCKETS,
    chunk_manifest,
    pack_sequences,
)
from ..operators.text import n_tokens
from ..registry import query


_TOK = tokens_duckdb("text")

_PACK_CTE = f"""
    WITH t AS (
      SELECT doc_id, doc_id % {N_BUCKETS} AS bucket,
             CAST(len({_TOK}) AS BIGINT) AS n_tok
      FROM documents
    ),
    nz AS (SELECT * FROM t WHERE n_tok > 0),
    w AS (
      SELECT *,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM nz
    )
"""


@query(
    "pipeline_sequence_packing",
    _PACK_CTE
    + f"""
    SELECT doc_id, bucket, n_tok, start_offset,
           start_offset // {CTX_LEN} AS chunk_start,
           (start_offset + n_tok - 1) // {CTX_LEN} AS chunk_end
    FROM w
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span assignment in the packed token stream —
    bucket-parallel concat-and-chunk (one uniform shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, n_tokens("text").cast("long"))


@query(
    "pipeline_chunk_manifest",
    _PACK_CTE
    + f"""
    , spans AS (
      SELECT bucket, doc_id, start_offset, n_tok,
             UNNEST(range(start_offset // {CTX_LEN},
                          (start_offset + n_tok - 1) // {CTX_LEN} + 1))
               AS chunk_id
      FROM w
    )
    SELECT bucket, CAST(chunk_id AS BIGINT) AS chunk_id,
           count(*) AS n_docs,
           CAST(SUM(least((chunk_id + 1) * {CTX_LEN}, start_offset + n_tok)
                    - greatest(chunk_id * {CTX_LEN}, start_offset))
                AS BIGINT) AS n_tokens_in_chunk
    FROM spans
    GROUP BY bucket, chunk_id
    """,
)
def packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk manifest: every full chunk sums to exactly CTX_LEN
    tokens; the data-loader-facing view of the packing."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, n_tokens("text").cast("long"))
    return chunk_manifest(packed)


def _bucketed_batches_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, CAST(len({tokens_duckdb("text")}) AS BIGINT) AS nt
      FROM documents
    ),
    b AS (
      SELECT doc_id, nt,
             CAST(floor(nt / {BATCH_BUCKET_WIDTH}) AS BIGINT) AS bucket
      FROM d
    ),
    r AS (
      SELECT bucket, nt,
             CAST(floor((row_number() OVER (
               PARTITION BY bucket ORDER BY doc_id) - 1) / {BATCH_SIZE})
             AS BIGINT) AS batch_id
      FROM b
    )
    SELECT bucket, batch_id,
           count(*) AS n_docs,
           max(nt) AS max_tokens,
           CAST(sum(nt) AS BIGINT) AS sum_tokens,
           round(1 - sum(nt) / CAST(count(*) * max(nt) AS DOUBLE), 6)
             AS padding_frac
    FROM r GROUP BY bucket, batch_id
    """


@query("pipeline_bucketed_batches", _bucketed_batches_oracle())
def pipeline_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly with per-batch padding stats —
    the dataloader stage between packing and training: batches of
    same-length-bucket documents minimize the padded-tensor waste the
    padding_frac column quantifies."""
    from ..functions.hashing import tokens
    from ..operators.packing import length_bucketed_batches

    docs = load_for_compute(spark, sf_dir, "documents")
    return length_bucketed_batches(
        docs.select("doc_id", F.size(tokens("text")).alias("nt")),
        "doc_id",
        F.col("nt"),
    )
