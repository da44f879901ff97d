"""Partitioned parquet sink — the batch write surface (SURVEY §2.1
S7/S8 are driver capabilities the reference never uses; Spark's writer
is the native equivalent, this module just fixes the layout policy).

At 100 TB the fact table lives as a date-partitioned parquet tree; the
reference's redundant ``metricDate >= toDate(...)`` predicate
(main.go:275) exists precisely to drive partition pruning on such a
layout (SURVEY O6). :func:`write_partitioned` writes that layout and
:func:`read_partitioned` reads it back; the test asserts Catalyst
actually prunes partitions for window queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# Rows per parquet file: the reference driver's INSERT block size
# (1M rows/block, clickhouse-go bootstrap.go:96).
MAX_RECORDS_PER_FILE = 1_000_000


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Write (overwrite) a date/key-partitioned parquet dataset."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
