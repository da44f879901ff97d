"""Persisted IVF index: serve-from-disk parity, incremental add, and
partition pruning of the postings scan."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.operators.ann_index import (
    ann_index_add,
    ann_index_postings,
    ann_index_read_centroids,
    ann_index_write,
    ivf_serve_persisted,
)
from baseline_magician_spark.operators.similarity import N_QUERY_VECS, ivf_topk

from conftest import SF_SMOKE

N_CENTROIDS = 8


@pytest.fixture()
def tmp_index():
    path = tempfile.mkdtemp(prefix="bms_ann_test_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _emb(spark):
    from baseline_magician_spark.catalog import load_for_compute

    return load_for_compute(spark, SF_SMOKE, "embeddings")


def _cents(emb):
    return sorted(
        (int(r[0]), list(r[1]))
        for r in emb.where(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )


def test_serve_from_disk_equals_in_memory(spark, tmp_index):
    emb = _emb(spark)
    cents = _cents(emb)
    ann_index_write(emb, tmp_index, cents)
    qs = emb.where(F.col("vec_id") < N_QUERY_VECS)
    served = sorted(
        tuple(r)
        for r in ivf_serve_persisted(qs, tmp_index).collect()
    )
    mem = sorted(
        tuple(r)
        for r in ivf_topk(emb, cents).collect()
    )
    assert served == mem


def test_centroid_roundtrip(spark, tmp_index):
    emb = _emb(spark)
    cents = _cents(emb)
    ann_index_write(emb.limit(50), tmp_index, cents)
    assert ann_index_read_centroids(spark, tmp_index) == [
        (cid, [float(x) for x in cv]) for cid, cv in cents
    ]


def test_incremental_add_equals_full_build(spark, tmp_index):
    """Append-assign under persisted centroids == one-shot build over
    the union (the no-retrain maintenance invariant)."""
    emb = _emb(spark)
    cents = _cents(emb)
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    ann_index_write(old, tmp_index, cents)
    ann_index_add(new, tmp_index)
    qs = emb.where(F.col("vec_id") < N_QUERY_VECS)
    incr = sorted(
        tuple(r)
        for r in ivf_serve_persisted(qs, tmp_index).collect()
    )
    full_path = tmp_index + "_full"
    try:
        ann_index_write(emb, full_path, cents)
        full = sorted(
            tuple(r)
            for r in ivf_serve_persisted(qs, full_path).collect()
        )
    finally:
        shutil.rmtree(full_path, ignore_errors=True)
    assert incr == full


def test_postings_layout_and_pruning(spark, tmp_index):
    emb = _emb(spark)
    cents = _cents(emb)
    ann_index_write(emb, tmp_index, cents)
    # cell-partitioned directory layout
    dirs = [
        d
        for d in os.listdir(os.path.join(tmp_index, "postings"))
        if d.startswith("cell=")
    ]
    assert dirs, "postings must be partitioned by cell"
    # a cell filter must reach the scan as a partition filter (pruned
    # read — the serve-path property the module exists for)
    probed = int(dirs[0].split("=")[1])
    plan = (
        ann_index_postings(spark, tmp_index)
        .where(F.col("cell").isin([probed]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert f"cell IN ({probed})" in plan or "dynamicpruning" not in plan
