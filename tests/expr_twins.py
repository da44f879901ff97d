"""Pure-expression renderings of the Arrow/numpy operator kernels —
the independent reference models the pin tests compare the runtime
operators against (tests/test_minhash_np.py,
tests/test_similarity_np.py, tests/test_cdc.py).

Each ``*_expr`` function spells one runtime operator with Spark
built-ins and higher-order functions only (JVM-side, no Python
worker): the same constants, fold order and tie rules the DuckDB
oracles replay, so an exact ``==`` against the kernel output pins the
kernel bit for bit. The runtime package never imports this module
(tests/test_single_runtime_path.py guards that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from baseline_magician_spark.functions.hashing import (
    POLY_MOD,
    _codes,
    minhash_params,
    poly_hash,
    shingle_hashes,
    tokens,
)
from baseline_magician_spark.functions.stats_tests import _let
from baseline_magician_spark.operators.cdc import GOLD, MASK_BITS, MOD, WINDOW
from baseline_magician_spark.operators.dedup import simhash_of_hashes
from baseline_magician_spark.operators.similarity import (
    _HP_A,
    _HP_B,
    _HP_MOD,
    cosine,
    dot,
    norm,
)

# ------------------------------------------------------------- dedup


def minhash_signature(text_col: str, k: int = 8, n: int = 3) -> Column:
    """array<long> MinHash signature: one ``aggregate`` pass with a
    k-wide accumulator of running minima. Docs with no shingles yield
    the sentinel [POLY_MOD]*k (every real permuted hash is smaller)."""
    hashes = shingle_hashes(text_col, n)
    params = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b")
            )
            for a, b in minhash_params(k)
        ]
    )
    init = F.array(*([F.lit(POLY_MOD).cast("long")] * k))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, (h * p["a"] + p["b"]) % F.lit(POLY_MOD)),
        ),
    )


def minhash_band_hashes(sig: Column, k: int, rows_per_band: int) -> Column:
    """array<struct<band:int, bh:bigint>>: one combined hash per LSH band."""
    n_bands = k // rows_per_band
    bands = []
    for b in range(n_bands):
        bh = F.lit(7).cast("long")
        for r in range(rows_per_band):
            bh = (bh * 31 + F.element_at(sig, b * rows_per_band + r + 1)) % POLY_MOD
        bands.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    return F.array(*bands)


def minhash_band_relation_expr(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Twin of ``dedup.minhash_band_relation``."""
    sig = minhash_signature(text_col, k, shingle_n)
    with_sig = df.select(
        F.col(id_col).alias("_id"), sig.alias("_sig")
    ).where(F.element_at(F.col("_sig"), 1) < POLY_MOD)
    return with_sig.select(
        "_id",
        F.explode(
            minhash_band_hashes(F.col("_sig"), k, rows_per_band)
        ).alias("_b"),
    ).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh")
    )


def shingle_hash_relation_expr(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Twin of ``dedup.shingle_hash_relation``."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_hashes(text_col, n)).alias("h"),
    )


def simhash(text_col: str, bits: int = 30) -> Column:
    """SimHash fingerprint over token poly-hashes: bit_j(doc) = 1 iff
    the sum over tokens of (+1 if bit_j(hash) else -1) >= 0."""
    tok_hashes = F.transform(tokens(text_col), lambda t: poly_hash(t))
    return simhash_of_hashes(tok_hashes, bits)


def simhash_relation_expr(
    df: DataFrame, text_col: str, id_col: str, bits: int = 30
) -> DataFrame:
    """Twin of ``dedup.simhash_relation``."""
    return df.select(
        F.col(id_col).alias("_id"),
        simhash(text_col, bits).alias("sh"),
    )


# -------------------------------------------------------- similarity


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<numeric> columns (fold,
    left-to-right — the order every SQL oracle mirrors)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _hyperplane_component(p: int, d: Column) -> Column:
    """Signed pseudo-random component in [-501001, 499001] (int64:
    the a*p product overflows int32)."""
    return (
        F.lit(_HP_A).cast("long") * p + F.lit(_HP_B).cast("long") * d.cast("long")
    ) % F.lit(_HP_MOD) - F.lit((_HP_MOD - 1) // 2)


def lsh_bucket(vec: Column, n_planes: int = 8, center: bool = False) -> Column:
    """P-bit sign bucket: per plane, a left-to-right fold over
    (x - mean) * component; ``center=True`` subtracts the row mean."""
    mean_expr = (
        F.aggregate(vec, F.lit(0.0), lambda a, v: a + v.cast("double"))
        / F.size(vec)
        if center
        else F.lit(0.0)
    )

    def with_mean(mean: Column) -> Column:
        # the mean is a LET-bound runtime VALUE: a captured fold tree
        # would re-evaluate per element per plane (O(d² · planes))
        bucket = F.lit(0).cast("long")
        for p in range(n_planes):
            proj = F.aggregate(
                F.transform(
                    vec,
                    lambda x, d: (x.cast("double") - mean)
                    * _hyperplane_component(p, d),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bucket = bucket + F.when(
                proj >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        return bucket

    return _let(mean_expr, with_mean)


def _centroid_literals(
    centroids: list[tuple[int, list[float]]],
) -> tuple[Column, Column, Column, int]:
    """(ids, vectors, norms) as literal array nodes + K; norms use the
    sequential fold of norm() (left-to-right sum of squares, sqrt)."""
    import math

    cids = F.lit([int(cid) for cid, _ in centroids])
    cvecs = F.lit([[float(x) for x in cv] for _, cv in centroids])
    norms = []
    for _, cv in centroids:
        acc = 0.0
        for x in cv:
            acc = acc + float(x) * float(x)
        norms.append(math.sqrt(acc))
    cnorms = F.lit(norms)
    return cids, cvecs, cnorms, len(centroids)


def _with_row_norm(vec: Column, body, init: Column) -> Column:
    """Let-bind norm(vec) as a fold variable so expressions that use it
    K times evaluate it once (Catalyst does not CSE under lambdas)."""
    return F.aggregate(F.array(norm(vec)), init, body)


def ivf_assign_cell(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Argmax centroid cosine, ties to the lowest centroid id (struct
    fields (cos, -cid); array_max is lexicographic)."""
    cids, cvecs, cnorms, k = _centroid_literals(centroids)

    def body(_acc: Column, nv: Column) -> Column:
        structs = F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.struct(
                (
                    dot(vec, F.element_at(cvecs, i))
                    / (nv * F.element_at(cnorms, i))
                ).alias("c"),
                (-F.element_at(cids, i)).cast("long").alias("n"),
            ),
        )
        return -F.array_max(structs)["n"]

    return _with_row_norm(vec, body, F.lit(0).cast("long"))


def ivf_probe_cells(
    vec: Column, centroids: list[tuple[int, list[float]]], n_probe: int
) -> Column:
    """The n_probe nearest centroid ids for a query vector (cos DESC,
    cid ASC), as an array."""
    cids, cvecs, cnorms, k = _centroid_literals(centroids)

    def body(_acc: Column, nv: Column) -> Column:
        scored = F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.struct(
                (
                    -(
                        dot(vec, F.element_at(cvecs, i))
                        / (nv * F.element_at(cnorms, i))
                    )
                ).alias("nc"),
                F.element_at(cids, i).cast("long").alias("cid"),
            ),
        )
        return F.transform(
            F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["cid"]
        )

    return _with_row_norm(vec, body, F.array().cast("array<long>"))


def pq_choose(
    vec: Column, codebooks: list[list[tuple[int, list[float]]]]
) -> list[Column]:
    """Per subspace, the argmin squared-L2 code as a struct of ``c``
    (code id) and ``v`` (subvector); ties to the lowest code id."""
    sub = len(codebooks[0][0][1])

    def _scorer(cvecs: Column, cids: Column, subv: Column):
        # closure factory: HOF lambdas must take exactly one arg
        return lambda i: F.struct(
            l2_sq(subv, F.element_at(cvecs, i)).alias("d"),
            F.element_at(cids, i).cast("long").alias("c"),
            F.element_at(cvecs, i).alias("v"),
        )

    chosen: list[Column] = []
    for j, cb in enumerate(codebooks):
        cvecs = F.lit([[float(x) for x in v] for _, v in cb])
        cids = F.lit([int(c) for c, _ in cb])
        subv = F.slice(vec, j * sub + 1, sub)
        scored = F.transform(
            F.sequence(F.lit(1), F.lit(len(cb))),
            _scorer(cvecs, cids, subv),
        )
        chosen.append(F.array_min(scored))
    return chosen


def _probed_pairs(
    embeddings, assigned, centroids, id_col, vec_col, n_query_vecs, n_probe
) -> DataFrame:
    """Corpus rows in the query's n_probe nearest cells, self excluded."""
    probes = embeddings.where(F.col(id_col) < n_query_vecs).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(
            ivf_probe_cells(F.col(vec_col), centroids, n_probe)
        ).alias("cell"),
    )
    return assigned.join(F.broadcast(probes), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )


def _top_k(scored: DataFrame, score: Column, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivf_topk_expr(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Twin of ``similarity.ivf_topk``."""
    centroids = sorted(centroids)
    assigned = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        ivf_assign_cell(F.col(vec_col), centroids).alias("cell"),
    )
    scored = _probed_pairs(
        embeddings, assigned, centroids, id_col, vec_col, n_query_vecs, n_probe
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    return _top_k(scored, F.desc("cosine_sim"), k)


def ivf_train_step_flat_expr(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Twin of ``similarity.ivf_train_step_flat``."""
    centroids = sorted(centroids)
    # two projection steps: a generator (posexplode) in the SAME
    # select as the assignment expression makes Spark's generator
    # rewrite strip the named-struct aliases inside ivf_assign_cell
    # (FIELD_NOT_FOUND)
    assigned = embeddings.select(
        F.col(vec_col).alias("_v"),
        ivf_assign_cell(F.col(vec_col), centroids).alias("cell"),
    ).select("cell", F.posexplode(F.col("_v")).alias("pos", "x"))
    return (
        assigned.groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("c"))
        .select(
            "cell",
            F.col("c").alias("n_members"),
            "pos",
            F.round("m", round_to).alias("value"),
        )
    )


def pq_encode_expr(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Twin of ``similarity.pq_encode``."""
    chosen = pq_choose(F.col(vec_col), codebooks)
    return embeddings.select(
        F.col(id_col),
        F.array(*[ch["c"] for ch in chosen]).alias("codes"),
        F.flatten(F.array(*[ch["v"] for ch in chosen])).alias("_recon"),
    )


def pq_adc_topk_expr(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
) -> DataFrame:
    """Twin of ``similarity.pq_adc_topk``."""
    enc = pq_encode_expr(embeddings, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "_recon"
    )
    q = embeddings.where(F.col(id_col) < n_query_vecs).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(l2_sq(F.col("_qvec"), F.col("_recon")), 6).alias("adc_dist"),
        )
    )
    return _top_k(scored, F.asc("adc_dist"), k)


def semantic_keep_best_expr(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Twin of ``similarity.semantic_keep_best``."""
    cids, cvecs, cnorms, k = _centroid_literals(centroids)

    def body(_acc: Column, nv: Column) -> Column:
        structs = F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.struct(
                (
                    dot(F.col(vec_col), F.element_at(cvecs, i))
                    / (nv * F.element_at(cnorms, i))
                ).alias("c"),
                (-F.element_at(cids, i)).cast("long").alias("n"),
            ),
        )
        best = F.array_max(structs)
        return F.struct(
            (-best["n"]).alias("cell"), best["c"].alias("sim")
        )

    assigned = embeddings.select(
        F.col(id_col).alias("_id"),
        _with_row_norm(
            F.col(vec_col),
            body,
            F.struct(
                F.lit(0).cast("long").alias("cell"),
                F.lit(0.0).alias("sim"),
            ),
        ).alias("_a"),
    ).select(
        "_id",
        F.col("_a.cell").alias("cell"),
        F.round(F.col("_a.sim"), 6).alias("centroid_sim"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.desc("centroid_sim"), F.asc("_id")
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cell")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cell",
            F.col("_id").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            "centroid_sim",
        )
    )


def ivfpq_topk_expr(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Twin of ``similarity.ivfpq_topk``."""
    chosen = pq_choose(F.col(vec_col), codebooks)
    assigned = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        ivf_assign_cell(F.col(vec_col), centroids).alias("cell"),
        F.flatten(F.array(*[ch["v"] for ch in chosen])).alias("_recon"),
    )
    scored = _probed_pairs(
        embeddings, assigned, centroids, id_col, vec_col, n_query_vecs, n_probe
    ).select(
        "query_id",
        "neighbor_id",
        F.round(l2_sq(F.col("_qvec"), F.col("_recon")), 6).alias("adc_dist"),
    )
    return _top_k(scored, F.asc("adc_dist"), k)


def ivf_cell_report_expr(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Twin of ``similarity.ivf_cell_report``: one window per vector
    over its K centroid cosines, one groupBy on the cell."""
    spark = embeddings.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        f"cid int, cvec {embeddings.schema[vec_col].dataType.simpleString()}",
    )
    scored = embeddings.crossJoin(F.broadcast(cdf)).select(
        F.col(id_col).alias("_id"),
        F.col("cid"),
        cosine(F.col(vec_col), F.col("cvec")).alias("_cos"),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_cos"), F.asc("cid"))
    top2 = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .groupBy("_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("cid"))).alias("cell"),
            F.max(F.when(F.col("_rn") == 1, F.col("_cos"))).alias("_c1"),
            F.max(F.when(F.col("_rn") == 2, F.col("_cos"))).alias("_c2"),
        )
    )
    return top2.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("_c1"), 6).alias("mean_top1_cos"),
        F.round(F.avg("_c2"), 6).alias("mean_top2_cos"),
        F.round(F.avg(F.col("_c1") - F.col("_c2")), 6).alias(
            "mean_margin"
        ),
    )


# --------------------------------------------------------------- cdc


def _gear_table(codes: Column) -> Column:
    """array<long> of gear values: G(b) = ((b % 256) + 1) * GOLD
    mod 2^61 — deterministic, no stored random table, replayable."""
    return F.transform(
        codes,
        lambda b: ((b % F.lit(256)) + 1) * F.lit(GOLD) % F.lit(MOD),
    )


def _rolling_states(g: Column, window: int) -> Column:
    """h_i = fold(acc*2 + g_j) over the trailing ``window`` gear
    values ending at i (1-based) — the closed form of the gear
    recurrence mod 2^61, where taps older than 61 shifts vanish and
    ``window`` truncates earlier for cost."""

    def state(_x: Column, i: Column) -> Column:
        start = F.greatest(F.lit(1), i + 2 - F.lit(window))
        return F.aggregate(
            F.slice(g, start, i + 1 - start + 1),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * 2 + v) % F.lit(MOD),
        )

    return F.transform(g, state)


def cdc_chunks_expr(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = MASK_BITS,
    window: int = WINDOW,
) -> DataFrame:
    """Twin of ``cdc.cdc_chunks_pandas``: an O(window) slice fold per
    character position."""
    text = F.col(text_col)
    codes = _codes(text)
    g = _gear_table(codes)
    h = _rolling_states(g, window)
    n = F.size(codes).cast("long")
    mask = F.lit(1 << mask_bits)
    ends = F.filter(
        F.transform(
            h,
            lambda x, i: F.when(
                x % mask == 0, (i + 1).cast("long")
            ).otherwise(F.lit(-1).cast("long")),
        ),
        lambda e: e >= 0,
    )
    # interior boundaries only, then the document end — this dedups
    # a boundary landing exactly on the last character
    aug = F.concat(
        F.array(F.lit(0).cast("long")),
        F.filter(ends, lambda e: e < n),
        F.array(n),
    )
    spans = F.zip_with(
        F.slice(aug, 1, F.size(aug) - 1),
        F.slice(aug, 2, F.size(aug) - 1),
        lambda a, b: F.struct(
            (a + 1).alias("start"), (b - a).alias("len")
        ),
    )
    return (
        docs.where(F.length(text) > 0)
        .select(
            F.col(id_col),
            text.alias("_t"),
            F.posexplode(spans).alias("_ord0", "_span"),
        )
        .select(
            F.col(id_col),
            (F.col("_ord0") + 1).cast("long").alias("chunk_ord"),
            F.col("_span.start").alias("chunk_start"),
            F.col("_span.len").alias("chunk_len"),
            poly_hash(
                F.substring(
                    F.col("_t"),
                    F.col("_span.start").cast("int"),
                    F.col("_span.len").cast("int"),
                )
            ).alias("chunk_fp"),
        )
    )
