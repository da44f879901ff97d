"""Similarity search over embedding columns (array<float>).

- **Brute-force top-k cosine** (the exact baseline): query set ×
  corpus cross join with the dot product computed by built-in
  higher-order functions (zip_with + aggregate) — JVM-side, no Python.
  Correct at any scale but O(Q x N); use for small query sets or as
  the verifier for approximate paths.

- **Random-hyperplane LSH buckets** (the scale path): P deterministic
  pseudo-random hyperplanes (components derived from index arithmetic,
  no RNG state) give each vector a P-bit sign bucket computed map-side.
  Candidates = same-bucket pairs -> the cross join shrinks by ~2^P.
  At 100 TB the bucket id is the shuffle key (uniform by construction)
  and each bucket's candidate set is verified with the exact cosine.

- **Embedding near-dup pairs**: same-bucket exact-cosine >= threshold,
  the embedding analogue of MinHash dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Hyperplane component for (plane p, dim d): pseudo-random signed value
# from pure integer arithmetic — identical in Spark and any SQL oracle.
_HP_MOD = 1_000_003
_HP_A = 1_315_423_911
_HP_B = 2_654_435_761

# The embeddings table's id and vector columns, which every operator
# here reads.
ID_COL = "vec_id"
VEC_COL = "embedding"
TOP_K = 10  # neighbours per query
N_QUERY_VECS = 5  # vec_id < N_QUERY_VECS is the query set
N_PROBE = 4  # IVF cells probed per query
N_CENTROIDS = 16  # IVF cells, seeded from the first N_CENTROIDS vectors
PQ_M = 4  # PQ subspaces
PQ_CODES = 16  # PQ codes per subspace, seeded like the IVF centroids


def dot(a: Column, b: Column) -> Column:
    """Exact dot product of two array<numeric> columns (fold, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Statically-unrolled dot product for a driver-known dimension.

    Same left-to-right add order as ``dot()``'s fold — bit-identical
    IEEE result — but plain whole-stage-codegen arithmetic with no
    per-row array allocation. On an O(pairs) self-join verify stage
    this is the difference between the fold's per-pair zip_with
    allocation and pure registers.
    """
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ivf_topk(
    embeddings: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """IVF approximate top-TOP_K for the N_QUERY_VECS query vectors:
    assign corpus vectors to ``centroids`` cells map-side, probe each
    query's N_PROBE nearest cells, exact-rescore only the candidates.

    The queries seed ``centroids`` from the first N_CENTROIDS vectors
    (deterministic, oracle-reproducible); production would k-means
    them — every other step (collect centroids to driver,
    map-side assign, probe, cell-join, rescore) is the real IVF
    dataflow. Plan shape: zero shuffles until the final per-query
    top-k, because the cell key is computed in the scan projection and
    the probe set is broadcast. The assignment, probe and rescore
    folds run in Arrow-batched numpy (guide §4.2); pinned against the
    expression rendering the DuckDB oracle replays in
    tests/test_similarity_np.py.
    """
    from pyspark.sql import Window as W

    centroids = sorted(centroids)
    assigned = _ivf_assign_relation(
        embeddings,
        centroids,
        out_id="neighbor_id",
        out_vec="_cvec",
        keep_vec=True,
    )
    probes = _ivf_probe_relation(
        embeddings.where(F.col(ID_COL) < N_QUERY_VECS), centroids, N_PROBE
    )
    scored = _pairwise_score_relation(
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_cvec"),
        "_qvec",
        "_cvec",
        "_raw",
        "cos",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TOP_K
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Exact top-TOP_K cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..TOP_K,
    ties broken by neighbor id. The queries side is broadcast — the
    corpus is scanned ONCE regardless of |Q|.

    Corpus rows whose id EQUALS the query id are dropped: the queries
    are drawn from the corpus (the self-search case).

    The per-pair cosine stays a JVM expression fold. The numpy
    pairwise kernel the IVF operators use lost the interleaved sf0.1
    A/B here (0.39 -> 0.62 s): the |corpus| x |Q| pair relation is
    already wide across cores and the single fold is cheap enough
    that the Arrow boundary costs more than interpreted eval saves.
    tests/test_similarity_np.py pins this fold against that kernel.
    """
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("_qvec")
    )
    c = embeddings.select(
        F.col(ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("_cvec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sim = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# A (bucket, sa, sb) sub-join over a bucket slice of H rows compares
# ~H² pairs; H = 4096 keeps the largest sub-task around 8M codegen'd
# dot products — seconds, not minutes. Buckets at or under H need no
# salting at all.
_SALT_HEALTHY_BUCKET = 4096
_SALT_MAX = 8


def lsh_bucketed_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    threshold: float = 0.9,
    dim: int | None = None,
    center: bool = False,
) -> DataFrame:
    """Near-duplicate vector pairs: same LSH bucket AND exact cosine >=
    threshold. Output: (vec_a, vec_b, cosine_sim).

    Scale shape, in order of importance:

    - **Adaptive pair-space salting**: a skewed bucket (at
      worst, every vector in one bucket — real corpora of same-sign
      features do this) turns the triangular self-join into one
      quadratic task. Each side tags its own salt ``id % S`` and
      explodes the *partner's* salt 0..S-1, so the join key
      ``(bucket, sa, sb)`` splits every bucket into S² independently-
      scheduled sub-joins. Each pair is still produced exactly once —
      (sa, sb) is a function of the pair. Salting duplicates every
      (id, vec, norm) row S×, which is pure tax when the bucket
      histogram is already healthy (e.g. after per-row centering), so
      S is sized from the ACTUAL histogram — one tiny
      driver round-trip (max bucket count, the same driver-literal
      pattern the IVF centroids use): S = ceil(max_bucket / 4096)
      clamped to [1, 8], and S == 1 skips the salt machinery
      entirely.
    - The norm and the bucket are computed ONCE per row, in one Arrow
      pass, before the self-join (O(N) not O(pairs); the value is
      IEEE-identical since the input array is).
    - When ``dim`` is driver-known the per-pair dot is statically
      unrolled into whole-stage-codegen arithmetic (same left-to-right
      add order as the fold — bit-identical results).
    - The pre-explode ``repartition(_bucket)`` exchange is computed
      once and reused by both join sides, so the upstream feature
      pipeline (often a Python mapInPandas stage) runs a single time.
    """
    with_bucket = _lsh_bucket_relation(
        embeddings.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        ),
        keep=("_id", "_v"),
        vec_col="_v",
        n_planes=n_planes,
        center=center,
        with_norm=True,
    ).repartition("_bucket")
    # The histogram job would otherwise re-run the upstream feature
    # pipeline (often a Python mapInPandas stage) a third time —
    # persist the tiny (id, vec, norm, bucket) projection so histogram
    # + both join sides read one materialization. Blocks are
    # O(corpus × vec) and evict LRU.
    with_bucket = with_bucket.persist()
    row = (
        with_bucket.groupBy("_bucket")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
    )
    mx = int(row["mx"] or 0)
    salt = max(
        1,
        min(
            _SALT_MAX,
            -(-mx // _SALT_HEALTHY_BUCKET),  # ceil div
        ),
    )

    def _dotp(lv, rv):
        return (
            dot_unrolled(lv, rv, dim) if dim is not None else dot(lv, rv)
        )

    if salt <= 1:
        l = with_bucket.alias("l").hint("shuffle_hash")
        r = with_bucket.alias("r").hint("shuffle_hash")
        cond = (F.col("l._bucket") == F.col("r._bucket")) & (
            F.col("l._id") < F.col("r._id")
        )
    else:
        partner = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        l = (
            with_bucket.withColumn("_sa", F.col("_id") % salt)
            .withColumn("_sb", partner)
            .alias("l")
            .hint("shuffle_hash")
        )
        r = (
            with_bucket.withColumn("_sb", F.col("_id") % salt)
            .withColumn("_sa", partner)
            .alias("r")
            .hint("shuffle_hash")
        )
        cond = (
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col("l._sa") == F.col("r._sa"))
            & (F.col("l._sb") == F.col("r._sb"))
            & (F.col("l._id") < F.col("r._id"))
        )
    return (
        l.join(r, cond)
        .select(
            F.col("l._id").alias("vec_a"),
            F.col("r._id").alias("vec_b"),
            F.round(
                _dotp(F.col("l._v"), F.col("r._v"))
                / (F.col("l._n") * F.col("r._n")),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_train_step_flat(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """One Lloyd (k-means) iteration — the IVF TRAINING step that
    produces the centroids ivf_topk serves from — in exploded form.

    Assign every vector to its nearest centroid map-side (same literal-
    matrix argmax as serving, no shuffle), then recompute each cell's
    centroid as the element-wise member mean. The vector average
    shuffles (cell, pos) pairs — dim × |cells| groups, uniform — after
    a posexplode that is linear in corpus × dim. Iterating this
    function IS k-means; each step is one job, centroids round-trip
    through the driver (K × dim floats — tiny by design).

    Output: one row per centroid component —
    (cell, n_members, pos, value) — a single shuffle; ``n_members`` is
    the cell's member count (identical on every pos row of a cell).

    ``centroids`` overrides the seed set — the Lloyd-iteration hook:
    feed the previous step's (rounded) centroids back in and this IS
    k-means, one job per step.
    """
    if centroids is None:
        centroids = [
            (int(r[0]), list(r[1]))
            for r in embeddings.where(F.col(ID_COL) < N_CENTROIDS)
            .select(ID_COL, VEC_COL)
            .collect()
        ]
    centroids = sorted(centroids)
    # Arrow-batched numpy assignment (guide §4.2), vec passthrough
    # for the element-wise mean; the posexplode stays JVM-side.
    assigned = _ivf_assign_relation(
        embeddings, centroids, keep_vec=True
    ).select("cell", F.posexplode(F.col("_vec")).alias("pos", "x"))
    return (
        assigned.groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("c"))
        .select(
            "cell",
            F.col("c").alias("n_members"),
            "pos",
            F.round("m", 6).alias("value"),
        )
    )


def pq_seed_codebooks(
    embeddings: DataFrame,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks seeded from the first PQ_CODES
    vectors' subvectors (deterministic, oracle-reproducible — the same
    seeding convention ivf_topk uses for its centroids; production
    would k-means each subspace with ivf_train_step_flat on the sliced
    column). Returns PQ_M lists of (code, subvector); the whole
    structure is PQ_M x PQ_CODES x (dim/PQ_M) floats — e.g. 4 KiB at
    dim 64 — so it rides into every task as a plan literal, never a
    join."""
    seeds = sorted(
        (int(r[0]), list(r[1]))
        for r in embeddings.where(F.col(ID_COL) < PQ_CODES)
        .select(ID_COL, VEC_COL)
        .collect()
    )
    return pq_codebooks_from_seeds(seeds)


def pq_codebooks_from_seeds(
    seeds: list[tuple[int, list[float]]]
) -> list[list[tuple[int, list[float]]]]:
    """Slice already-collected seed vectors (the same (id, vec) list the
    IVF queries collect once via their seed helper) into per-subspace
    codebooks — so one driver collect can feed IVF centroids AND PQ
    codebooks without a second scan."""
    dim = len(seeds[0][1])
    if dim % PQ_M:
        raise ValueError(f"dim {dim} not divisible by m={PQ_M}")
    sub = dim // PQ_M
    return [
        [(c, v[j * sub : (j + 1) * sub]) for c, v in seeds]
        for j in range(PQ_M)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """PQ-encode the corpus: (id, codes array<long>, _recon) — codes is
    the m-byte compressed representation (the 100 TB artifact: dim
    floats -> m uint8 codes, 64x smaller at dim=64/m=4), ``_recon`` the
    codebook reconstruction used by ADC scoring. One narrow projection,
    no shuffle — the codebooks are a task-local numpy table and the
    m x codes x sub argmin-L2 runs in one Arrow-batched pass (guide
    §4.2); pinned against the expression rendering in
    tests/test_similarity_np.py.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..pyship import ensure_shipped

    ensure_shipped(embeddings.sparkSession)
    pq_tables = _pq_tables_np(codebooks)
    schema = StructType(
        [
            StructField(ID_COL, embeddings.schema[ID_COL].dataType),
            StructField("codes", ArrayType(LongType())),
            StructField("_recon", ArrayType(DoubleType())),
        ]
    )
    src = embeddings.select(ID_COL, F.col(VEC_COL).alias("_vec"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack_vecs(pdf["_vec"], VEC_COL)
            codes, recon = _np_pq_encode(V, pq_tables)
            yield pd.DataFrame(
                {
                    ID_COL: pdf[ID_COL],
                    "codes": list(codes),
                    "_recon": list(recon),
                }
            )

    return src.mapInPandas(gen, schema=schema)


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ + asymmetric-distance top-k (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the corpus
    is scanned in its compressed form and each candidate's distance to
    the (full-precision) query is the distance to its reconstruction.

    Plan shape: encode is map-side (literal codebooks), queries
    broadcast, so the only shuffle is the final per-query top-k window
    — identical to brute_force_topk but over a corpus that at scale is
    read as m bytes per vector instead of dim floats.

    Output: (query_id, neighbor_id, adc_dist, rank), rank 1..TOP_K by
    ascending rounded distance, ties to the lower neighbor id.
    """
    from pyspark.sql import Window as W

    if codebooks is None:
        codebooks = pq_seed_codebooks(embeddings)
    enc = pq_encode(embeddings, codebooks).select(
        F.col(ID_COL).alias("neighbor_id"), "_recon"
    )
    q = embeddings.where(F.col(ID_COL) < N_QUERY_VECS).select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("_qvec")
    )
    pairs = enc.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = _pairwise_score_relation(
        pairs.select("query_id", "neighbor_id", "_qvec", "_recon"),
        "_qvec",
        "_recon",
        "_raw",
        "l2",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


def semantic_keep_best(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Cluster-based semantic dedup: assign every vector to its nearest
    centroid cell map-side (same argmax/tie rules as IVF serving) and
    keep ONE representative per cell — the member closest to the
    centroid (cosine DESC, ties to the lower id), i.e. the medoid-like
    "best" example; everything else in the cell is the semantic-
    duplicate set. The pretraining-corpus companion to MinHash dedup:
    MinHash catches lexical near-dups, this catches same-meaning
    rewrites that share no shingles.

    Output: (cell, kept_id, n_members, centroid_sim). One map-side
    assignment pass + one shuffle on the uniform cell key; the window
    per cell is the same single shuffle. Scale: cells ~ K, so the
    groupBy is small; the corpus never self-joins.
    """
    from pyspark.sql import Window as W

    assigned = _ivf_assign_relation(
        embeddings, sorted(centroids), with_sim=True
    ).select(
        "_id",
        "cell",
        F.round(F.col("_sim"), 6).alias("centroid_sim"),
    )
    w = W.partitionBy("cell").orderBy(
        F.desc("centroid_sim"), F.asc("_id")
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(W.partitionBy("cell")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cell",
            F.col("_id").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            "centroid_sim",
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """IVF cells over PQ codes — the standard billion-vector serving
    layout (IVFADC, Jegou et al. 2011): the corpus partitions into
    coarse centroid cells AND compresses to m-byte PQ codes; a query
    probes its N_PROBE nearest cells and ADC-rescores only those
    candidates against its full-precision vector.

    Plan shape: cell assignment and PQ reconstruction are ONE narrow
    scan projection against plan-literal centroids/codebooks (at scale
    this is the index build artifact: (cell, codes) per vector, read
    as a cell-pruned scan of m bytes/vector); the probe set
    broadcasts; the only shuffle is the final per-query top-k window.
    Candidates drop from N to ~N*N_PROBE/n_cells and candidate bytes
    from dim floats to m codes — the two savings multiply.
    """
    from pyspark.sql import Window as W

    # ONE Arrow-batched pass computes assignment + PQ recon
    assigned = _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        out_id="neighbor_id",
        codebooks=codebooks,
    )
    probes = _ivf_probe_relation(
        embeddings.where(F.col(ID_COL) < N_QUERY_VECS),
        sorted(centroids),
        N_PROBE,
    )
    scored = _pairwise_score_relation(
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_recon"),
        "_qvec",
        "_recon",
        "_raw",
        "l2",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# -------------------------------------------------- int8 quantization


def int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) (explicit half-up — the
    one rounding spelling Spark and DuckDB share bit-for-bit).

    Output: (id, scale double, qvec array<int>). At 100 TB this is
    the serving-corpus compaction step — 4x smaller than float32, and
    downstream scoring is integer arithmetic; computed map-side in one
    projection (the scale is a materialized column, NOT a subtree, so
    the per-element lambda reads a slot instead of re-evaluating the
    array max per element)."""
    v = F.transform(F.col(VEC_COL), lambda x: x.cast("double"))
    with_scale = embeddings.select(
        F.col(ID_COL).alias("_qid"),
        v.alias("_v"),
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )
    qvec = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
        )
    )
    return with_scale.select(
        F.col("_qid").alias(ID_COL), "scale", qvec.alias("qvec")
    )


def int8_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-TOP_K by quantized dot product: score =
    (Σ qa_i·qb_i) · scale_a · scale_b — the integer sum is EXACT in
    both engines, the two scale multiplies are the only floats, so
    the ranking replays bit-identically in a SQL oracle.

    Output: (query_id, neighbor_id, q_score, rank). Same shape as
    brute_force_topk: corpus × broadcast(query set), ranked per query
    by (rounded score desc, neighbor id). The quantized corpus is the
    thing you'd PERSIST at scale — the scan reads 1/4 the bytes and
    the hot loop is int multiply-add."""
    from pyspark.sql import Window as W

    qq = int8_quantize(queries).select(
        F.col(ID_COL).alias("query_id"),
        F.col("scale").alias("_qs"),
        F.col("qvec").alias("_qq"),
    )
    cc = int8_quantize(embeddings).select(
        F.col(ID_COL).alias("neighbor_id"),
        F.col("scale").alias("_cs"),
        F.col("qvec").alias("_cq"),
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("_qq"), F.col("_cq"), lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = (
        cc.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                idot.cast("double") * F.col("_qs") * F.col("_cs"), 6
            ).alias("q_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("q_score"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
    )


def binary_quantize(embeddings: DataFrame) -> DataFrame:
    """Sign binarization after per-ROW mean centering: bit i is set
    iff x_i - mean(x) >= 0, packed 64 dims per long word.

    Output: (id, dim int, words array<long>). The per-row mean (the
    same left-to-right fold as _lsh_bucket_relation(center=True), so a SQL
    oracle replays it bit-for-bit) removes the common offset that
    would otherwise collapse positive-orthant embeddings onto the
    all-ones code. At 100 TB this is the 32x compaction step of a
    binary-quantization serving corpus: one map-side projection, and
    downstream candidate scoring is XOR+popcount over 1/32 of the
    float bytes. Word packing is bitwiseOR of distinct single-bit
    values — no addition, so it is ANSI-safe including bit 63."""
    v = F.transform(F.col(VEC_COL), lambda x: x.cast("double"))
    with_mu = embeddings.select(
        F.col(ID_COL).alias("_bid"),
        v.alias("_v"),
        (
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x
            )
            / F.size(v)
        ).alias("_mu"),
    )
    nwords = ((F.size(F.col("_v")) + 63) / 64).cast("int")
    # single-bit value for in-word position p: 2^p is an EXACT double
    # for p <= 62 (one mantissa bit), so pow->long round-trips; bit
    # 63 is the signed-long min literal. shiftleft() takes only a
    # literal count, hence this spelling; all combining is bitwiseOR
    # of distinct bits — no addition, ANSI-safe.
    bitval = lambda p: F.when(  # noqa: E731
        p == 63, F.lit(-(1 << 63)).cast("long")
    ).otherwise(F.pow(F.lit(2.0), p.cast("double")).cast("long"))
    words = F.transform(
        F.sequence(F.lit(0), nwords - 1),
        lambda j: F.aggregate(
            F.transform(
                F.col("_v"),
                lambda x, i: F.when(
                    (i >= j * 64)
                    & (i < (j + 1) * 64)
                    & (x - F.col("_mu") >= 0),
                    bitval(i % 64),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        ),
    )
    return with_mu.select(
        F.col("_bid").alias(ID_COL),
        F.size(F.col("_v")).alias("dim"),
        words.alias("words"),
    )


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed word arrays:
    sum(popcount(xor)) — whole-stage-codegen integer ops."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def binary_hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by Hamming distance over the binary codes.

    Output: (query_id, neighbor_id, hamming, rank), rank 1..k by
    (hamming asc, neighbor id asc — Hamming ties are common at 64
    bits, so the id tiebreak is load-bearing for determinism). Same
    scan shape as brute_force_topk: corpus x broadcast(queries),
    but the per-pair cost is dim/64 XOR+popcounts instead of dim
    float multiplies."""
    from pyspark.sql import Window as W

    q = binary_quantize(queries).select(
        F.col(ID_COL).alias("query_id"), F.col("words").alias("_qw")
    )
    c = binary_quantize(embeddings).select(
        F.col(ID_COL).alias("neighbor_id"), F.col("words").alias("_cw")
    )
    sim = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            hamming_words(F.col("_qw"), F.col("_cw")).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def binary_rerank_topk(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """The binary-quantization SERVING pattern: Hamming prefilter to
    4 * TOP_K candidates per query, then exact cosine rerank of only
    those candidates back against the float vectors.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..TOP_K by
    (cosine desc, neighbor id). At 100 TB the first stage scans the
    32x-compacted code corpus; the float vectors are fetched for
    ~4 * TOP_K rows per query via an equi-join on neighbor id — the
    crossJoin never touches the float table."""
    from pyspark.sql import Window as W

    cand = binary_hamming_topk(embeddings, queries, k=TOP_K * 4).select(
        "query_id", "neighbor_id"
    )
    qv = queries.select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("_qvec")
    )
    cv = embeddings.select(
        F.col(ID_COL).alias("neighbor_id"), F.col(VEC_COL).alias("_cvec")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("_qvec"), F.col("_cvec")), 6
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
    )


# ------------------------------------------------------ numpy kernels
# Guide §4.2: the IVF assignment/probe, PQ choice, LSH projection and
# per-pair cosine/L2 folds run here, not as literal-matrix
# higher-order-function expressions — Spark does not codegen lambda
# bodies, and those expression trees also dominate BUILD time (plan
# construction + analysis) for every ANN query. The kernels compute
# the IDENTICAL IEEE doubles the DuckDB oracles replay: the fold order
# is preserved by looping over dims and vectorizing over rows, and
# every argmax/argmin/sort uses uint64 keys whose order equals
# java.lang.Double.compare's total order (the order Spark's struct
# array_max/array_min/array_sort use), so tie/NaN/-0.0 behavior
# matches bit for bit. tests/test_similarity_np.py pins every kernel
# operator against its expression rendering in tests/expr_twins.py.


def _np_dkeys(x):
    """uint64 keys whose unsigned order equals java.lang.Double.compare
    (-0.0 < 0.0; every NaN equal to every NaN and greater than +inf) —
    the total order Spark's struct array_max/array_min/array_sort and
    window ORDER BY use on doubles."""
    import numpy as np

    x = np.ascontiguousarray(x, dtype=np.float64)
    x = np.where(np.isnan(x), np.float64("nan"), x)  # canonical NaN bits
    b = x.view(np.uint64)
    neg = (b >> np.uint64(63)).astype(bool)
    return b ^ np.where(
        neg, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0x8000000000000000)
    )


def _np_stack_vecs(series, what: str):
    """pandas Series of fixed-dim float vectors -> (n, d) float64.

    Raises on NULL or ragged rows: every relation these kernels serve
    (the embeddings table and projections of it) is uniform-dim and
    non-null by construction, and silently padding/propagating would
    corrupt results — fail loudly instead (an expression fold would
    produce nulls here, a case the pin tests document as out of
    contract)."""
    import numpy as np

    vals = series.to_numpy()
    if len(vals) == 0:
        return np.zeros((0, 0))
    try:
        out = np.stack([np.asarray(v, dtype=np.float64) for v in vals])
    except (TypeError, ValueError) as ex:
        raise ValueError(
            f"{what}: NULL or ragged vector in Arrow batch"
        ) from ex
    return out


def _np_seq_norm(V):
    """Row norms with the exact fold order of :func:`norm` (left-to-
    right sum of squares, then sqrt — both IEEE-identical per row)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * V[:, j]
    return np.sqrt(acc)


def _np_seq_dot_mat(V, C):
    """(n, K) dot products of every row of V with every row of C, fold
    order per (row, k) identical to :func:`dot`."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc = acc + V[:, j, None] * C[None, :, j]
    return acc


def _np_seq_dot_pairs(A, B):
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _np_seq_l2_pairs(A, B):
    """Row-aligned squared L2: left-to-right sum of (a_j - b_j)^2 —
    the fold order every SQL oracle mirrors."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        d = A[:, j] - B[:, j]
        acc = acc + d * d
    return acc


def _centroid_np(centroids: list[tuple[int, list[float]]]):
    """(cids int64, C (K,d) float64, cnorms float64) — the norms use
    the driver-side sequential fold of :func:`norm` (left-to-right sum
    of squares, IEEE sqrt), so scores match the oracle's bit for
    bit."""
    import math

    import numpy as np

    cids = np.asarray([int(c) for c, _ in centroids], dtype=np.int64)
    C = np.asarray(
        [[float(x) for x in v] for _, v in centroids], dtype=np.float64
    )
    norms = []
    for _, cv in centroids:
        acc = 0.0
        for x in cv:
            acc = acc + float(x) * float(x)
        norms.append(math.sqrt(acc))
    return cids, C, np.asarray(norms, dtype=np.float64)


def _pq_tables_np(codebooks: list[list[tuple[int, list[float]]]]):
    """Per-subspace (codes int64, CB (n_codes, sub) float64) tables."""
    import numpy as np

    return [
        (
            np.asarray([int(c) for c, _ in cb], dtype=np.int64),
            np.asarray(
                [[float(x) for x in v] for _, v in cb], dtype=np.float64
            ),
        )
        for cb in codebooks
    ]


def _np_cos_matrix(V, cids, C, cnorms):
    """(n, K) cosines: dot / (row_norm * centroid_norm), the exact
    expression-order arithmetic of :func:`cosine`."""
    nv = _np_seq_norm(V)
    return _np_seq_dot_mat(V, C) / (nv[:, None] * cnorms[None, :])


def _np_pq_encode(V, pq_tables):
    """(codes (n, m) int64, recon (n, d) float64) — per subspace the
    argmin squared-L2 code (left-to-right fold, as in
    :func:`_np_seq_l2_pairs`) with ties to the lowest code id."""
    import numpy as np

    n = V.shape[0]
    m = len(pq_tables)
    sub = pq_tables[0][1].shape[1]
    codes = np.empty((n, m), dtype=np.int64)
    recon = np.empty((n, m * sub), dtype=np.float64)
    for j, (cj, CB) in enumerate(pq_tables):
        S = V[:, j * sub : (j + 1) * sub]
        acc = np.zeros((n, CB.shape[0]))
        for t in range(sub):
            dt = S[:, t, None] - CB[None, :, t]
            acc = acc + dt * dt
        # argmin on Double.compare keys; first min == lowest code id
        # (codebooks are code-ascending by construction)
        best = _np_dkeys(acc).argmin(axis=1)
        codes[:, j] = cj[best]
        recon[:, j * sub : (j + 1) * sub] = CB[best]
    return codes, recon


def _ivf_assign_relation(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    out_id: str = "_id",
    out_vec: str = "_vec",
    keep_vec: bool = False,
    with_sim: bool = False,
    top2: bool = False,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """(out_id[, out_vec], cell[, _sim][, _c2][, _recon]) — one Arrow-
    batched numpy pass computing the IVF cell assignment (argmax
    cosine, ties to the lowest cid) and optionally the winning cosine,
    the runner-up cosine (null when K < 2) and the PQ reconstruction."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..pyship import ensure_shipped

    ensure_shipped(df.sparkSession)
    cids, C, cnorms = _centroid_np(centroids)
    pq_tables = _pq_tables_np(codebooks) if codebooks is not None else None
    k = len(centroids)

    fields = [StructField(out_id, df.schema[ID_COL].dataType)]
    if keep_vec:
        fields.append(StructField(out_vec, df.schema[VEC_COL].dataType))
    fields.append(StructField("cell", LongType()))
    if with_sim:
        fields.append(StructField("_sim", DoubleType()))
    if top2:
        fields.append(StructField("_c2", DoubleType()))
    if pq_tables is not None:
        fields.append(StructField("_recon", ArrayType(DoubleType())))
    src = df.select(F.col(ID_COL).alias(out_id), F.col(VEC_COL).alias(out_vec))

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack_vecs(pdf[out_vec], VEC_COL)
            cos = _np_cos_matrix(V, cids, C, cnorms)
            keys = _np_dkeys(cos)
            rows = np.arange(len(pdf))
            if top2:
                order = np.argsort(~keys, axis=1, kind="stable")
                b0 = order[:, 0]
            else:
                b0 = keys.argmax(axis=1)  # first max = lowest cid tie
            data = {out_id: pdf[out_id]}
            if keep_vec:
                data[out_vec] = pdf[out_vec]
            data["cell"] = cids[b0]
            if with_sim:
                data["_sim"] = cos[rows, b0]
            if top2:
                data["_c2"] = (
                    cos[rows, order[:, 1]] if k >= 2 else np.nan
                )
            out = pd.DataFrame(data)
            if top2 and k < 2:
                out["_c2"] = None
            if pq_tables is not None:
                _, recon = _np_pq_encode(V, pq_tables)
                out["_recon"] = list(recon)
            yield out

    return src.mapInPandas(gen, schema=StructType(fields))


def _ivf_probe_relation(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
) -> DataFrame:
    """(query_id, _qvec, cell) — the exploded n_probe nearest-centroid
    rows per query (cos DESC, cid ASC)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..pyship import ensure_shipped

    ensure_shipped(df.sparkSession)
    cids, C, cnorms = _centroid_np(centroids)
    n_probe = min(n_probe, len(centroids))

    schema = StructType(
        [
            StructField("query_id", df.schema[ID_COL].dataType),
            StructField("_qvec", df.schema[VEC_COL].dataType),
            StructField("cell", LongType()),
        ]
    )
    src = df.select(
        F.col(ID_COL).alias("query_id"), F.col(VEC_COL).alias("_qvec")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack_vecs(pdf["_qvec"], VEC_COL)
            keys = _np_dkeys(_np_cos_matrix(V, cids, C, cnorms))
            order = np.argsort(~keys, axis=1, kind="stable")[:, :n_probe]
            idx = np.repeat(np.arange(len(pdf)), n_probe)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].iloc[idx].to_numpy(),
                    "_qvec": pdf["_qvec"].iloc[idx].to_numpy(),
                    "cell": cids[order.reshape(-1)],
                }
            )

    return src.mapInPandas(gen, schema=schema)


def _lsh_bucket_relation(
    df: DataFrame,
    keep: tuple[str, ...],
    vec_col: str,
    n_planes: int = 8,
    center: bool = False,
    with_norm: bool = False,
) -> DataFrame:
    """(keep..., [_n,] _bucket) — the P-bit sign-bucket relation in one
    Arrow-batched numpy pass (round 12, guide §4.2): per plane p, bit
    p is set iff the left-to-right fold of (x_d - mean) * component(p,
    d) is >= 0 (Spark's comparison semantics: NaN counts as
    non-negative), with the integer component table below; plus
    optionally the row norm (the exact :func:`norm` fold). Pinned
    against the expression rendering in tests/test_similarity_np.py.

    ``center=True`` subtracts each vector's own component mean first:
    nonnegative feature families share an all-ones direction that
    gives every projection the same sign (measured: 5000 docs -> 4
    buckets at sf0.1; centered, 201 buckets and 25x fewer candidate
    pairs), and a per-row transform stays oracle-replayable."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..pyship import ensure_shipped

    ensure_shipped(df.sparkSession)
    fields = [df.schema[c] for c in keep]
    if with_norm:
        fields.append(StructField("_n", DoubleType()))
    fields.append(StructField("_bucket", LongType()))
    src = df.select(*keep, F.col(vec_col).alias("_vec"))
    half = (_HP_MOD - 1) // 2
    # hyperplane component table, computed once driver-side: the
    # signed pseudo-random component in [-501001, 499001] from int64
    # arithmetic (the oracles' spelling), exact as float64
    # (|component| <= 501001 << 2^53)
    def _hp_row(p: int, d: int):
        return (
            (_HP_A * p + _HP_B * np.arange(d, dtype=np.int64))
            % _HP_MOD
            - half
        ).astype(np.float64)

    def gen(batches):
        import pandas as pd

        hp = None
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack_vecs(pdf["_vec"], vec_col)
            n, d = V.shape
            if hp is None or hp.shape[1] != d:
                hp = np.stack([_hp_row(p, d) for p in range(n_planes)])
            if center:
                acc = np.zeros(n)
                for j in range(d):
                    acc = acc + V[:, j]
                mean = acc / d
            else:
                mean = np.zeros(n)
            bucket = np.zeros(n, dtype=np.int64)
            for p in range(n_planes):
                proj = np.zeros(n)
                for j in range(d):
                    proj = proj + (V[:, j] - mean) * hp[p, j]
                # Spark comparison semantics: NaN >= 0 is TRUE
                bit = (proj >= 0) | np.isnan(proj)
                bucket += bit.astype(np.int64) << np.int64(p)
            data = {c: pdf[c] for c in keep}
            if with_norm:
                data["_n"] = _np_seq_norm(V)
            data["_bucket"] = bucket
            yield pd.DataFrame(data)

    return src.mapInPandas(gen, schema=StructType(fields))


def _pairwise_score_relation(
    df: DataFrame, a_col: str, b_col: str, out_col: str, metric: str
) -> DataFrame:
    """Append ``out_col`` = the raw (unrounded) pairwise fold — metric
    "cos" (dot/(norm*norm)) or "l2" (squared L2) — and DROP the two
    vector columns; every other column passes through. Rounding stays
    JVM-side in the caller so F.round semantics are untouched."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..pyship import ensure_shipped

    ensure_shipped(df.sparkSession)
    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    names = [f.name for f in keep]
    out_schema = StructType(list(keep) + [StructField(out_col, DoubleType())])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _np_stack_vecs(pdf[a_col], a_col)
            B = _np_stack_vecs(pdf[b_col], b_col)
            if A.shape[1] != B.shape[1]:
                raise ValueError(
                    f"{a_col}/{b_col}: dim mismatch "
                    f"{A.shape[1]} vs {B.shape[1]}"
                )
            if metric == "cos":
                s = _np_seq_dot_pairs(A, B) / (
                    _np_seq_norm(A) * _np_seq_norm(B)
                )
            elif metric == "l2":
                s = _np_seq_l2_pairs(A, B)
            else:  # pragma: no cover
                raise ValueError(metric)
            out = pdf[names].copy()
            out[out_col] = s
            yield out

    return df.mapInPandas(gen, schema=out_schema)


def ivf_cell_report(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """IVF index-quality report: per cell (the argmax-cosine
    assignment, same tie-break as ivf_topk — cos DESC, cid ASC),
    how many vectors it holds, how tight they sit (mean cosine to
    the OWN centroid) and how separated (mean cosine to the runner-up
    centroid, mean top1-top2 margin). This is the observability view
    that decides n_centroids / n_probe BEFORE recall degrades: fat
    cells mean rebalancing, thin margins mean more probes.

    Output: (cell, n_vectors, mean_top1_cos, mean_top2_cos,
    mean_margin), all rounded to 6. Shape (guide §4.2 + §2.4): ONE
    Arrow-batched numpy pass emits each vector's top-2 cells directly
    — no crossJoin row blow-up, no per-vector window shuffle —
    followed by the per-cell groupBy."""
    top2 = _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        with_sim=True,
        top2=True,
    ).select(
        # cell stays IntegerType, the schema this operator has
        # always exposed
        F.col("cell").cast("int").alias("cell"),
        F.col("_sim").alias("_c1"),
        F.col("_c2"),
    )
    return top2.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("_c1"), 6).alias("mean_top1_cos"),
        F.round(F.avg("_c2"), 6).alias("mean_top2_cos"),
        F.round(F.avg(F.col("_c1") - F.col("_c2")), 6).alias(
            "mean_margin"
        ),
    )
