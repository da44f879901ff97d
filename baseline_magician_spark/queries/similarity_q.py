"""Similarity-search queries over `embeddings`, with DuckDB oracles
sharing the exact arithmetic (same fold order -> bit-identical doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute, load_table
from ..operators.similarity import (
    N_CENTROIDS,
    N_PROBE,
    N_QUERY_VECS,
    PQ_CODES,
    PQ_M,
    TOP_K,
    _HP_A,
    _HP_B,
    _HP_MOD,
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_pairs,
)
from ..registry import query

N_PLANES = 8
EMB_DIM = 64  # embeddings.parquet vector width (TESTDATA.md)
# The synthetic embeddings are near-orthogonal (max pairwise cosine
# ~0.51 at sf0.01); 0.35 sits above the 99.9th percentile so the
# near-dup query returns a small non-empty pair set worth checking.
DUP_THRESHOLD = 0.35

# DuckDB helpers (same fold order as the Spark zip_with/aggregate ops)
_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), "
    "(x, y) -> x + y)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(x, y) -> x + y))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"({_NORM.format(a=a)} * {_NORM.format(a=b)}))"
    )


def _topk_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_cos('q.qv', 'e.embedding')}, 6) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS INT) AS rank FROM sims
    ) WHERE rank <= {TOP_K}
    """


@query("similarity_topk_cosine", _topk_oracle())
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_for_compute(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(emb, queries)


def _lsh_oracle() -> str:
    # bucket bit p: sign of the projection onto deterministic plane p
    half = (_HP_MOD - 1) // 2
    proj = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({v}, range(0, len({v}))), "
        "s -> CAST(s[1] AS DOUBLE) * "
        f"CAST(((CAST({_HP_A} AS BIGINT) * {{p}} + {_HP_B} * s[2]) % {_HP_MOD} - {half}) AS DOUBLE))), "
        "(x, y) -> x + y)"
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {proj.format(v='embedding', p=p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket_terms} AS BIGINT) AS bucket
      FROM embeddings
    )
    SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
           round({_cos('l.embedding', 'r.embedding')}, 6) AS cosine_sim
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    WHERE round({_cos('l.embedding', 'r.embedding')}, 6) >= {DUP_THRESHOLD}
    """


@query("similarity_lsh_neardup_pairs", _lsh_oracle())
def similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_for_compute(spark, sf_dir, "embeddings")
    return lsh_bucketed_pairs(
        emb, n_planes=N_PLANES, threshold=DUP_THRESHOLD, dim=EMB_DIM
    )


def _seed_centroids(spark, sf_dir, n):
    """Collect the deterministic seed vectors from the PLAIN scan — the
    seed filter touches n rows, so paying the compute-widening shuffle
    before a driver collect would be pure overhead."""
    from ..catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return sorted(
        (int(r[0]), list(r[1]))
        for r in emb.where(F.col("vec_id") < n)
        .select("vec_id", "embedding")
        .collect()
    )




def _ivf_oracle() -> str:
    """Same IVF algorithm in SQL: centroid seeds = vec_id < K, argmax
    assignment / probe via row_number (cos DESC, cid ASC) — identical
    tie-breaks to the Spark array-max/array-sort formulation."""
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             round({_cos('p.qv', 'a.cv')}, 6) AS cosine_sim
      FROM probes p JOIN assign a USING (cell)
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS INT) AS rank FROM scored
    ) WHERE rank <= {TOP_K}
    """


@query("similarity_ivf_topk", _ivf_oracle())
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _seed_centroids(spark, sf_dir, N_CENTROIDS))


@query("similarity_ivf_serve_persisted", _ivf_oracle())
def similarity_ivf_serve_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Persist-and-serve IVF (round 11): write the index to parquet —
    centroid metadata + postings PARTITIONED BY cell — then answer
    the query set FROM DISK (operators/ann_index.py). The serve scan
    prunes to the probed cell partitions via the collected probe set;
    results are value-identical to the in-memory ``similarity_ivf_topk``
    row, so this query shares its oracle verbatim — the check that a
    train-rarely/serve-often deployment returns exactly what the
    one-shot plan returns."""
    import hashlib
    import os
    import tempfile

    from ..operators.ann_index import ann_index_write, ivf_serve_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_centroids(spark, sf_dir, N_CENTROIDS)
    path = os.path.join(
        tempfile.gettempdir(),
        "bms_ann_ivf_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    ann_index_write(emb, path, cents)
    qs = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return ivf_serve_persisted(qs, path)


def _bucket_histogram_oracle() -> str:
    half = (_HP_MOD - 1) // 2
    proj = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(embedding, range(0, len(embedding))), "
        "s -> CAST(s[1] AS DOUBLE) * "
        f"CAST(((CAST({_HP_A} AS BIGINT) * {{p}} + {_HP_B} * s[2]) % {_HP_MOD} - {half}) AS DOUBLE))), "
        "(x, y) -> x + y)"
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {proj.format(p=p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
    SELECT CAST({bucket_terms} AS BIGINT) AS bucket,
           count(*) AS n_vectors,
           count(DISTINCT label) AS n_labels
    FROM embeddings GROUP BY 1
    """


@query("similarity_lsh_bucket_histogram", _bucket_histogram_oracle())
def similarity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy histogram — the observability view for tuning
    n_planes (bucket skew drives the candidate-join cost at scale)."""
    from ..operators.similarity import _lsh_bucket_relation

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _lsh_bucket_relation(
            emb, keep=("label",), vec_col="embedding", n_planes=N_PLANES
        )
        .select(F.col("_bucket").alias("bucket"), "label")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def _train_step_oracle() -> str:
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    per_pos AS (
      SELECT cell, i AS pos, avg(embedding[i + 1]) AS m, count(*) AS c
      FROM assign CROSS JOIN range(0, {EMB_DIM}) t(i)
      GROUP BY cell, i
    )
    SELECT cell,
           CAST(c AS BIGINT) AS n_members,
           CAST(pos AS INT) AS pos,
           round(m, 6) AS value
    FROM per_pos
    """


@query("similarity_ivf_train_step", _train_step_oracle())
def similarity_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means/Lloyd iteration over the embedding corpus: map-side
    argmax assignment (identical tie rules as IVF serving) + element-
    wise centroid mean, in exploded (cell, n_members, pos, value) form
    so the result is flat-hashable. Iterating this query trains the
    IVF index the serving query probes."""
    from ..operators.similarity import ivf_train_step_flat

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_train_step_flat(
        emb,
        centroids=_seed_centroids(spark, sf_dir, N_CENTROIDS),
    )


_PQ_SUB = EMB_DIM // PQ_M

# squared-L2 fold, same left-to-right order as
# operators.similarity._np_seq_l2_pairs
_L2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * "
    "(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))), "
    "(x, y) -> x + y)"
)


def _pq_enc_ctes() -> str:
    """Shared oracle CTEs: codebooks from seed-vector subvectors, per-
    (vector, subspace) nearest-code choice with the Spark tie rules
    (squared-L2 ASC, code ASC)."""
    return f"""
    seeds AS (
      SELECT vec_id AS code, embedding FROM embeddings
      WHERE vec_id < {PQ_CODES}
    ),
    cb AS (
      SELECT j, code, embedding[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS cvec
      FROM seeds CROSS JOIN range(0, {PQ_M}) t(j)
    ),
    subs AS (
      SELECT vec_id, j,
             embedding[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS sv
      FROM embeddings CROSS JOIN range(0, {PQ_M}) t(j)
    ),
    enc AS (
      SELECT vec_id, j, code, cvec FROM (
        SELECT s.vec_id, s.j, c.code, c.cvec,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY {_L2.format(a='s.sv', b='c.cvec')} ASC, c.code ASC
               ) AS rn
        FROM subs s JOIN cb c ON s.j = c.j
      ) WHERE rn = 1
    )"""


def _pq_codes_oracle() -> str:
    code_cols = ", ".join(
        f"CAST(max(CASE WHEN j = {j} THEN code END) AS BIGINT) AS code_{j}"
        for j in range(PQ_M)
    )
    return f"""
    WITH {_pq_enc_ctes()}
    SELECT vec_id, {code_cols}
    FROM enc GROUP BY vec_id
    """


@query("similarity_pq_codes", _pq_codes_oracle())
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ encoder's compressed representation, hash-checked code by
    code: each vector's m nearest-codebook choices. At scale this
    projection IS the index build — dim floats become m small ints
    (64x smaller at dim 64 / m 4), computed map-side against literal
    codebooks with no join and no shuffle."""
    from ..operators.similarity import pq_codebooks_from_seeds, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_codebooks_from_seeds(
        _seed_centroids(spark, sf_dir, PQ_CODES)
    )
    enc = pq_encode(emb, codebooks)
    return enc.select(
        "vec_id",
        *[
            F.element_at(F.col("codes"), j + 1).alias(f"code_{j}")
            for j in range(PQ_M)
        ],
    )


def _pq_topk_oracle() -> str:
    return f"""
    WITH {_pq_enc_ctes()},
    recon AS (
      SELECT vec_id, flatten(list(cvec ORDER BY j)) AS rv
      FROM enc GROUP BY vec_id
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {N_QUERY_VECS}
    ),
    scored AS (
      SELECT q.query_id, r.vec_id AS neighbor_id,
             round({_L2.format(a='q.qv', b='r.rv')}, 6) AS adc_dist
      FROM recon r CROSS JOIN q WHERE r.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
      ) AS INT) AS rank FROM scored
    ) WHERE rank <= {TOP_K}
    """


@query("similarity_pq_adc_topk", _pq_topk_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric-distance top-k: the compressed-corpus ANN scan
    (encode map-side, queries broadcast, one top-k shuffle). The
    IVF query partitions the corpus; this one compresses it — composing
    the two (IVF cells over PQ codes) is the standard billion-scale
    layout, and both halves are hash-checked here."""
    from ..operators.similarity import pq_adc_topk

    from ..operators.similarity import pq_codebooks_from_seeds

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb,
        codebooks=pq_codebooks_from_seeds(
            _seed_centroids(spark, sf_dir, PQ_CODES)
        ),
    )


KMEANS_STEPS = 3


def _kmeans_oracle() -> str:
    """KMEANS_STEPS Lloyd iterations as a CTE chain. Centroids are rounded to 6
    decimals at every step IN BOTH ENGINES, so each step's assignment
    compares identical doubles and per-step drift cannot accumulate.
    Residual tolerance (shared with every rounded oracle in this repo):
    if a cell mean's exact value sits within one summation-order ULP of
    a 0.0000005 rounding boundary, the engines could round apart —
    verified not to occur on this data at sf0.01 AND sf0.1."""
    sql = (
        f"WITH cents0 AS (SELECT vec_id AS cid, embedding AS cvec "
        f"FROM embeddings WHERE vec_id < {N_CENTROIDS})"
    )
    for s in range(1, KMEANS_STEPS + 1):
        prev = f"cents{s - 1}"
        sql += f""",
    assign{s} AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    m{s} AS (
      SELECT cell, i AS pos, round(avg(embedding[i + 1]), 6) AS m,
             count(*) AS c
      FROM assign{s} CROSS JOIN range(0, {EMB_DIM}) t(i)
      GROUP BY cell, i
    ),
    cents{s} AS (
      SELECT cell AS cid, list(m ORDER BY pos) AS cvec
      FROM m{s} GROUP BY cell
    )"""
    sql += f"""
    SELECT cell, CAST(c AS BIGINT) AS n_members,
           CAST(pos AS INT) AS pos, m AS value
    FROM m{KMEANS_STEPS}
    """
    return sql


@query("similarity_kmeans_three_steps", _kmeans_oracle())
def similarity_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three iterated Lloyd steps — the actual k-means training loop
    the IVF index comes from. Each step is one distributed job (map-
    side argmax assignment + one (cell,pos) shuffle); centroids
    round-trip through the driver rounded to 6 decimals, which keeps
    the oracle's CTE-chain recomputation bit-identical step for step.
    """
    from ..operators.similarity import ivf_train_step_flat

    # persist the widened corpus across the first two Lloyd steps: each
    # step is a separate JOB (collect barrier between them), so without
    # a cache every step re-reads and re-shuffles the input. The cache
    # is RELEASED after the last collect barrier — the returned (lazy)
    # third step recomputes the cheap scan+widen once rather than
    # pinning executor storage memory for the rest of the session.
    emb = load_table(spark, sf_dir, "embeddings").persist()
    cents: list[tuple[int, list[float]]] | None = _seed_centroids(
        spark, sf_dir, N_CENTROIDS
    )
    try:
        for _step in range(KMEANS_STEPS - 1):
            by_cell: dict[int, list[tuple[int, float]]] = {}
            step_df = ivf_train_step_flat(emb, centroids=cents)
            for r in step_df.collect():
                by_cell.setdefault(int(r["cell"]), []).append(
                    (int(r["pos"]), float(r["value"]))
                )
            cents = [
                (cell, [v for _, v in sorted(ps)])
                for cell, ps in by_cell.items()
            ]
    finally:
        emb.unpersist()
    return ivf_train_step_flat(
        load_table(spark, sf_dir, "embeddings"),
        centroids=cents,
    )


def _ivfpq_oracle() -> str:
    """IVFADC composed: the PQ encode/recon CTEs + the IVF assign/probe
    CTEs, candidates = probed cells only, distances against the PQ
    reconstruction — identical tie rules to both parents."""
    return f"""
    WITH {_pq_enc_ctes()},
    recon AS (
      SELECT vec_id, flatten(list(cvec ORDER BY j)) AS rv
      FROM enc GROUP BY vec_id
    ),
    cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id AS neighbor_id, cell FROM (
        SELECT e.vec_id, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             round({_L2.format(a='p.qv', b='r.rv')}, 6) AS adc_dist
      FROM probes p JOIN assign a USING (cell)
      JOIN recon r ON r.vec_id = a.neighbor_id
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
      ) AS INT) AS rank FROM scored
    ) WHERE rank <= {TOP_K}
    """


@query("similarity_ivfpq_topk", _ivfpq_oracle())
def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (IVFADC): coarse cells prune the candidate
    set, PQ codes compress what remains — the billion-vector layout
    both parent queries advertise, now hash-checked as one pipeline."""
    from ..operators.similarity import ivfpq_topk, pq_codebooks_from_seeds

    emb = load_table(spark, sf_dir, "embeddings")
    # one driver collect feeds centroids AND codebooks (they seed from
    # overlapping vec_id prefixes) — was two identical collect jobs
    seeds = _seed_centroids(spark, sf_dir, max(N_CENTROIDS, PQ_CODES))
    return ivfpq_topk(
        emb,
        centroids=[s for s in seeds if s[0] < N_CENTROIDS],
        codebooks=pq_codebooks_from_seeds(
            [s for s in seeds if s[0] < PQ_CODES]
        ),
    )


def _pq_recon_error_oracle() -> str:
    """Mean/max squared reconstruction error per PQ code cell — the
    index-quality diagnostic a PQ deployment monitors (rising error =
    retrain the codebooks)."""
    l2 = _L2.format(a="e.embedding", b="r.rv")
    return f"""
    WITH {_pq_enc_ctes()},
    recon AS (
      SELECT vec_id, flatten(list(cvec ORDER BY j)) AS rv
      FROM enc GROUP BY vec_id
    ),
    err AS (
      SELECT e.vec_id, {l2} AS sq_err,
             e.vec_id % {PQ_CODES} AS cell
      FROM embeddings e JOIN recon r ON e.vec_id = r.vec_id
    )
    SELECT CAST(cell AS INT) AS cell, count(*) AS n_vecs,
           round(avg(sq_err), 6) AS avg_sq_err,
           round(max(sq_err), 6) AS max_sq_err
    FROM err GROUP BY cell ORDER BY cell
    """


@query("similarity_pq_recon_error", _pq_recon_error_oracle())
def similarity_pq_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-error profile: encode the corpus, measure
    ||x - recon(x)||^2 per vector, aggregate per bucket — one narrow
    encode projection + one uniform groupBy; the monitoring query that
    tells an ANN deployment when codebooks need retraining."""
    from ..operators.similarity import (
        _pairwise_score_relation,
        pq_codebooks_from_seeds,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_codebooks_from_seeds(
        _seed_centroids(spark, sf_dir, PQ_CODES)
    )
    enc = pq_encode(emb, codebooks)
    err = _pairwise_score_relation(
        emb.select("vec_id", "embedding").join(
            enc.select("vec_id", "_recon"), "vec_id"
        ),
        "embedding",
        "_recon",
        "sq_err",
        "l2",
    ).select(
        (F.col("vec_id") % PQ_CODES).cast("int").alias("cell"),
        "sq_err",
    )
    return (
        err.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("sq_err"), 6).alias("avg_sq_err"),
            F.round(F.max("sq_err"), 6).alias("max_sq_err"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------- int8 quantized top-k

_Q8 = """
      SELECT vec_id,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
"""


def _int8_topk_oracle() -> str:
    # q_i = floor(x_i/scale + 0.5): explicit half-up, the one rounding
    # spelling both engines share; the int dot is exact, the two scale
    # multiplies are the only floats
    qvec = (
        "CASE WHEN scale = 0 THEN list_transform(v, x -> 0) "
        "ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))"
        " END"
    )
    idot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip(q.qv, c.qv), "
        "s -> CAST(s[1] AS BIGINT) * CAST(s[2] AS BIGINT))), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH base AS ({_Q8}),
    quant AS (
      SELECT vec_id, scale, {qvec} AS qv FROM base
    ),
    q AS (
      SELECT vec_id AS query_id, scale AS qs, qv FROM quant
      WHERE vec_id < {N_QUERY_VECS}
    ),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(CAST({idot} AS DOUBLE) * q.qs * c.scale, 6)
               AS q_score
      FROM quant c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, q_score, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY q_score DESC, neighbor_id
      ) AS INT) AS rank FROM sims
    ) WHERE rank <= {TOP_K}
    """


@query("similarity_int8_topk", _int8_topk_oracle())
def similarity_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN serving path: symmetric per-vector int8 corpus,
    scores from the exact integer dot rescaled by the two per-vector
    scales (operators/similarity.int8_quantize/int8_topk). The
    float32 corpus never reaches the scoring join — at 100 TB the
    quantized relation is the persisted serving copy (4x fewer bytes
    scanned) and the hot loop is integer multiply-add."""
    from ..operators.similarity import int8_topk

    emb = load_for_compute(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return int8_topk(emb, queries)


def _recall_oracle() -> str:
    """Recall@k replay: re-derive all three result sets (brute-force
    truth, int8, IVFADC) from their own oracles as CTE bodies and
    count the overlap — the approximate families' 'approximate' claim
    becomes a measured, hash-checked number (deterministic: every
    seed, plane and codebook is a plan literal)."""
    return f"""
    WITH truth AS ({_topk_oracle()}),
    i8 AS ({_int8_topk_oracle()}),
    pq AS ({_ivfpq_oracle()}),
    m8 AS (
      SELECT t.query_id, count(*) AS c
      FROM truth t JOIN i8 a
        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      GROUP BY t.query_id
    ),
    mpq AS (
      SELECT t.query_id, count(*) AS c
      FROM truth t JOIN pq a
        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      GROUP BY t.query_id
    ),
    qs AS (SELECT DISTINCT query_id FROM truth)
    SELECT qs.query_id,
           round(COALESCE(m8.c, 0) / {TOP_K}.0, 2) AS recall_int8,
           round(COALESCE(mpq.c, 0) / {TOP_K}.0, 2) AS recall_ivfpq
    FROM qs
    LEFT JOIN m8 ON m8.query_id = qs.query_id
    LEFT JOIN mpq ON mpq.query_id = qs.query_id
    ORDER BY qs.query_id
    """


@query("similarity_recall_at_k", _recall_oracle())
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the two approximate ANN paths (int8
    scalar quantization; IVFADC) against the brute-force cosine
    truth — the self-check every production ANN deployment runs
    before trusting an index. Deterministic: seeds, hyperplanes and
    codebooks are plan literals, so the recall VALUES are pinned by
    the driver compare, not just the plumbing.

    Plan shape: the truth set is ~50 rows (5 queries x k) — both
    overlap joins broadcast it against the equally tiny approximate
    result sets; the expensive part is the three searches themselves,
    which reuse the exact operators their own queries register. At
    100 TB the same query runs on a SAMPLE of queries (recall is a
    statistical property — 1k queries bound it tightly), so the
    overlap join stays broadcast-tiny no matter the corpus size."""
    truth = similarity_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    i8 = similarity_int8(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    pq = similarity_ivfpq(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    def overlap(approx: DataFrame, name: str) -> DataFrame:
        return (
            F.broadcast(truth)
            .join(approx, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(name))
        )

    qs = truth.select("query_id").distinct()
    m8 = overlap(i8, "c8")
    mpq = overlap(pq, "cpq")
    return (
        qs.join(F.broadcast(m8), "query_id", "left")
        .join(F.broadcast(mpq), "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("c8"), F.lit(0)) / float(TOP_K), 2
            ).alias("recall_int8"),
            F.round(
                F.coalesce(F.col("cpq"), F.lit(0)) / float(TOP_K), 2
            ).alias("recall_ivfpq"),
        )
        .orderBy("query_id")
    )


# -- binary quantization (round 10) -----------------------------------
# Sign bits after per-row mean centering, packed 64 dims/word; the
# oracle carries the UNPACKED sign list and counts positional
# disagreements — arithmetically identical to Spark's
# popcount(xor(words)), so the packed rendering is checked without
# DuckDB needing 64-bit word semantics. Serving pattern: Hamming
# prefilter over the 32x-compacted codes, exact cosine rerank of the
# k*4 candidates only.
_BQ_BITS = """
    bv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bm AS (
      SELECT vec_id, v,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
                         (a, b) -> a + b) / len(v) AS mu
      FROM bv
    ),
    bb AS (
      SELECT vec_id, list_transform(v, x -> x - mu >= 0) AS bits
      FROM bm
    )"""


def _binary_hamming_ctes() -> str:
    """CTE chain ending in ``branked`` = (query_id, neighbor_id,
    hamming, rank by (hamming asc, id asc) per query)."""
    return f"""{_BQ_BITS},
    bq AS (
      SELECT vec_id AS query_id, bits AS qb FROM bb
      WHERE vec_id < {N_QUERY_VECS}
    ),
    bsims AS (
      SELECT bq.query_id, c.vec_id AS neighbor_id,
             CAST(len(list_filter(list_zip(bq.qb, c.bits),
                                  s -> s[1] <> s[2])) AS BIGINT)
               AS hamming
      FROM bb c CROSS JOIN bq
      WHERE c.vec_id <> bq.query_id
    ),
    branked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY hamming, neighbor_id
             ) AS rank
      FROM bsims
    )"""


def _binary_hamming_oracle() -> str:
    return f"""
    WITH {_binary_hamming_ctes()}
    SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
    FROM branked WHERE rank <= {TOP_K}
    """


@query("similarity_binary_hamming_topk", _binary_hamming_oracle())
def similarity_binary_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamming top-k over sign-binarized codes: the 32x-compacted
    scan whose per-pair cost is one XOR+popcount per 64 dims."""
    from ..operators.similarity import binary_hamming_topk

    emb = load_for_compute(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return binary_hamming_topk(emb, queries, k=TOP_K)


def _binary_rerank_oracle() -> str:
    return f"""
    WITH {_binary_hamming_ctes()},
    cands AS (
      SELECT query_id, neighbor_id FROM branked
      WHERE rank <= {TOP_K * 4}
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             round({_cos('q.embedding', 'e.embedding')}, 6)
               AS cosine_sim
      FROM cands c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings e ON e.vec_id = c.neighbor_id
    ),
    rranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id
             ) AS rank
      FROM rescored
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM rranked WHERE rank <= {TOP_K}
    """


@query("similarity_binary_rerank_topk", _binary_rerank_oracle())
def similarity_binary_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary prefilter + exact rerank — the binary-quantization
    serving pattern: Hamming top-(k*4) candidates from the code
    corpus, then exact cosine on only those rows (the float table is
    touched via an equi-join on candidate ids, never a crossJoin)."""
    from ..operators.similarity import binary_rerank_topk

    emb = load_for_compute(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return binary_rerank_topk(emb, queries)


# -- Matryoshka truncation recall (round 10) ---------------------------
# MRL-style serving: search with only the FIRST half of each
# embedding (the prefix a Matryoshka-trained model packs the signal
# into) and measure recall@10 against full-dimension truth. On the
# synthetic near-orthogonal embeddings this measures exactly what a
# dimension-truncation rollout needs to know — how much ranking the
# prefix preserves. Both engines rank by (round(cos,6) desc, id).
MAT_DIM = 32


def _matryoshka_oracle() -> str:
    half = f"(e.embedding[1:{MAT_DIM}])"
    halfq = f"(q.qv[1:{MAT_DIM}])"
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    full_sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_cos('q.qv', 'e.embedding')}, 6) AS cs
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cs DESC, neighbor_id
               ) AS r
        FROM full_sims
      ) WHERE r <= {TOP_K}
    ),
    half_sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_cos(halfq, half)}, 6) AS cs
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cs DESC, neighbor_id
               ) AS r
        FROM half_sims
      ) WHERE r <= {TOP_K}
    )
    SELECT t.query_id,
           round(count(a.neighbor_id) / {TOP_K}.0, 2)
             AS recall_matryoshka
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    ORDER BY t.query_id
    """


@query("similarity_matryoshka_recall", _matryoshka_oracle())
def similarity_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of first-half-dimension search vs full-dimension
    truth — the dimension-truncation rollout measurement. Two
    brute-force scans (the corpus read twice, queries broadcast) and
    a broadcast overlap join; at scale the truncated scan reads half
    the vector bytes, which is the point."""
    emb = load_for_compute(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY_VECS)
    truth = brute_force_topk(emb, queries).select("query_id", "neighbor_id")
    half = emb.select(
        "vec_id", F.slice("embedding", 1, MAT_DIM).alias("embedding")
    )
    approx = brute_force_topk(
        half, half.where(F.col("vec_id") < N_QUERY_VECS)
    ).select("query_id", "neighbor_id")
    ov = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        truth.select("query_id")
        .distinct()
        .join(F.broadcast(ov), "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("_c"), F.lit(0)) / float(TOP_K), 2
            ).alias("recall_matryoshka"),
        )
        .orderBy("query_id")
    )


# -- IVF cell-quality report (round 10) --------------------------------
def _ivf_cell_report_oracle() -> str:
    cs = _cos("e.embedding", "c.cvec")
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ),
    sc AS (
      SELECT e.vec_id AS id, c.cid, {cs} AS cs,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {cs} DESC, c.cid ASC
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    t2 AS (
      SELECT id,
             max(CASE WHEN rn = 1 THEN cid END) AS cell,
             max(CASE WHEN rn = 1 THEN cs END) AS c1,
             max(CASE WHEN rn = 2 THEN cs END) AS c2
      FROM sc WHERE rn <= 2 GROUP BY id
    )
    SELECT cell,
           count(*) AS n_vectors,
           round(avg(c1), 6) AS mean_top1_cos,
           round(avg(c2), 6) AS mean_top2_cos,
           round(avg(c1 - c2), 6) AS mean_margin
    FROM t2 GROUP BY cell
    """


@query("similarity_ivf_cell_report", _ivf_cell_report_oracle())
def similarity_ivf_cell_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF index-quality report — per cell: occupancy, mean cosine
    to the own centroid (tightness) and to the runner-up (margin) —
    the observability that tunes n_centroids / n_probe before recall
    degrades. Exactly the assignment scan an IVF build pays."""
    from ..operators.similarity import ivf_cell_report

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_cell_report(
        emb, _seed_centroids(spark, sf_dir, N_CENTROIDS)
    )
