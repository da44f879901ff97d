"""Persisted IVF index: write/read/append/serve (round 11, VERDICT
r10 task 4).

The in-memory IVF operators (operators/similarity.py) rebuild the
index inside every query plan — right for oracle checks, wrong for
production: a 100 TB deployment trains rarely and serves constantly.
This module materializes the index as parquet so the serve path reads
postings instead of re-assigning the corpus:

- ``<path>/centroids``: the trained centroid relation (cid, cvec) —
  vocabulary-scale metadata (K x dim floats), the thing every serve
  site collects to the driver to plan map-side probes;
- ``<path>/postings``: (id, vec, cell), written PARTITIONED BY cell —
  a serve with n_probe cells per query touches only the probed cell
  directories (static partition pruning via an isin filter over the
  collected probe set), never the full corpus.

Serving reuses the in-memory path's probe and rescore kernels
(``_ivf_probe_relation`` / ``_pairwise_score_relation``), so a
persisted serve is value-identical to the in-memory plan — which is precisely what the
``similarity_ivf_serve_persisted`` driver row checks by sharing the
in-memory oracle. Incremental add assigns NEW vectors under the
PERSISTED centroids and appends their postings — the standard
IVF maintenance story (retrain only when cell balance drifts; the
drift signal is operators/similarity.py::ivf_cell_report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    N_PROBE,
    TOP_K,
    _ivf_assign_relation,
    _ivf_probe_relation,
    _pairwise_score_relation,
)

__all__ = [
    "ann_index_write",
    "ann_index_read_centroids",
    "ann_index_postings",
    "ann_index_add",
    "ivf_serve_persisted",
]


def _assigned(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    # the Arrow-batched numpy assignment ivf_topk uses (guide §4.2),
    # pinned against its expression twin in tests/test_similarity_np.py
    return _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        out_id="id",
        out_vec="vec",
        keep_vec=True,
    )


def ann_index_write(
    embeddings: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
) -> None:
    """Materialize the IVF index: centroid metadata + cell-partitioned
    postings. One corpus pass (the map-side assignment is a scan
    projection); the shuffle-free write lays postings out by cell so
    serves prune to the probed directories."""
    spark = embeddings.sparkSession
    # repartition(1), NOT coalesce(1): coalescing a parallelized
    # local relation into one task measured 5.2 s vs 0.6 s for the
    # same 16-row write (single-task evaluation of all 32 empty
    # parent slices); the 1-row shuffle is free
    spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid long, cvec array<float>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # repartition by cell before the partitioned write: one writer
    # (and one file) per cell instead of n_input_partitions x K tiny
    # files — the clustering a 100 TB build wants anyway (each cell's
    # postings are co-located and contiguous for the serve scan)
    _assigned(embeddings, centroids).repartition(
        "cell"
    ).write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/postings"
    )


def ann_index_read_centroids(
    spark: SparkSession, path: str
) -> list[tuple[int, list[float]]]:
    """The persisted centroid table, as the driver-side list every
    probe/assign expression literal-izes (K x dim — tiny)."""
    return sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )


def ann_index_postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/postings")


def ann_index_add(
    new_embeddings: DataFrame,
    path: str,
) -> None:
    """Incremental ingest: assign new vectors under the PERSISTED
    centroids and append their postings — no retrain, no touch of
    existing cell files."""
    spark = new_embeddings.sparkSession
    centroids = ann_index_read_centroids(spark, path)
    _assigned(new_embeddings, centroids).repartition(
        "cell"
    ).write.partitionBy("cell").mode("append").parquet(
        f"{path}/postings"
    )


def ivf_serve_persisted(queries: DataFrame, path: str) -> DataFrame:
    """Serve approximate top-TOP_K from the persisted index.

    The probed cell set is collected first (|queries| x N_PROBE ids —
    serve-time queries are few by definition) and pushed as an isin
    filter on the postings scan, so only the probed cell PARTITIONS
    are read — the explain shows PartitionFilters on ``cell``. The
    rescore is the same broadcast join + per-query window as the
    in-memory path."""
    from pyspark.sql import Window as W

    spark = queries.sparkSession
    centroids = ann_index_read_centroids(spark, path)
    probes = _ivf_probe_relation(queries, centroids, N_PROBE)
    probed_cells = sorted(
        {int(r["cell"]) for r in probes.select("cell").distinct().collect()}
    )
    postings = ann_index_postings(spark, path).where(
        F.col("cell").isin(probed_cells)
    )
    scored = _pairwise_score_relation(
        postings.join(F.broadcast(probes), "cell")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "_qvec",
            "vec",
        ),
        "_qvec",
        "vec",
        "_raw",
        "cos",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TOP_K
    )
