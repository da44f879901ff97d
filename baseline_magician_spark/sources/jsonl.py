"""JSON-Lines corpus source/sink — the interchange format LLM training
corpora actually arrive in (one JSON document per line, usually
gz-compressed and sharded).

Spark's native json reader handles JSONL directly (`multiLine=False`
is the default), splits uncompressed shards by byte range, and
parallelizes over files — the same scan model as parquet, so every
downstream operator in this engine runs unchanged on a JSONL corpus.

Reads always pass an explicit schema: without one Spark runs a FULL inference
pass over the data before the real read (twice the I/O at 100 TB), and
inferred types drift per shard (an all-int shard infers long where a
mixed shard infers double). ``DOCUMENTS_SCHEMA`` mirrors
documents.parquet (TESTDATA.md) so parquet- and JSONL-backed corpora
are plan-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSONL corpus with ``DOCUMENTS_SCHEMA`` in FAILFAST mode:
    a corrupt line is an error, because silent row drops are how
    corpora lose documents (:func:`read_jsonl_with_corrupt` keeps
    them instead)."""
    return (
        spark.read.schema(DOCUMENTS_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
    )


def read_jsonl_with_corrupt(spark: SparkSession, path: str) -> DataFrame:
    """PERMISSIVE read that keeps malformed lines: adds a
    ``_corrupt_record`` column holding the raw line for rows that fail
    to parse (NULL for clean rows) — the quarantine pattern: filter
    them out to a side table instead of aborting a 100 TB ingest."""
    return (
        spark.read.schema(DOCUMENTS_SCHEMA + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a corpus as JSONL, one shard per input partition
    (repartition first to size shards — at scale ~100-500 MB so the
    next reader gets well-sized splits). Fails if ``path`` exists:
    Spark's errorifexists mode, so no corpus directory is replaced."""
    df.write.mode("error").json(path)
