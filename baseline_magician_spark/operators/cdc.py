"""Content-defined chunking (Gear rolling hash) for sub-document
dedup.

Large-corpus pipelines dedup below document granularity: near-
identical pages share long runs that fixed-size blocks miss because
a one-byte insertion shifts every later block. Content-DEFINED
boundaries (Rabin/Gear family — the FastCDC lineage) cut where a
rolling hash of the trailing window hits a mask, so shared content
re-aligns on the same cut points regardless of offset.

This implementation is the PURE variant: a position ends a chunk iff
gear(window) % 2^mask_bits == 0, with no min/max clamps. That choice
is deliberate at 100 TB: the boundary decision is a function of the
trailing ``window`` characters ONLY, so it is embarrassingly
parallel per position, stable under repartitioning, replayable by a
SQL oracle, and shift-invariant (the dedup property). Min/max
clamps make boundary selection a sequential scan per document —
cheap in a byte loop, hostile to a declarative replay — and are the
FastCDC speed trick, not the dedup semantics.

Arithmetic is ANSI-safe by construction (no wrap-mode analysis
needed): state lives in [0, 2^61), the fold step ``acc*2 + g`` peaks
below 2^63, and the gear table value ``((code % 256) + 1) * GOLD``
peaks at 256 * 2^31.5 — every intermediate fits a signed long, in
Spark and in the DuckDB BIGINT oracle replay
(queries/dedup_q.py:_cdc_*_oracle).

Scale shape: one map-side ``mapInPandas`` pass, no shuffle until the
caller aggregates chunk fingerprints. The closed form runs as numpy
vector ops — 32 shift-adds for the rolling states (uint64 wraparound
is exact mod 2^61 because 2^64 is a multiple of 2^61) and prefix
polynomial hashes for the chunk fingerprints (every character read
once, no per-char Python loop; round 10). The O(window * len)
expression rendering the oracle replays lives in tests/expr_twins.py
as the reference model tests/test_cdc.py pins this path against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GOLD = 0x9E3779B9  # golden-ratio odd constant; gear table generator
MOD = 1 << 61
WINDOW = 32
MASK_BITS = 6  # boundary iff h % 64 == 0 -> ~64-char expected chunks


def _pow_mod_np(base: int, n: int, mod: int):
    """numpy uint64 array of base^0..base^n (mod ``mod``), built by
    block doubling (log2(n) vectorized multiplies; every product is
    < mod^2 < 2^60, exact in uint64)."""
    import numpy as np

    out = np.ones(1, dtype=np.uint64)
    m = np.uint64(mod)
    while len(out) <= n:
        t = np.uint64(int(out[-1]) * base % mod)
        take = min(len(out), n + 1 - len(out))
        out = np.concatenate([out, (out[:take] * t) % m])
    return out


def _chunk_batch_np(texts, mask_bits: int, window: int, pw, ipw):
    """(doc_row, chunk_ord, start, len, fp) int64 arrays for a whole
    batch of non-empty documents — the numpy vectorized rendering of
    the gear closed form, value-identical per document to the
    expression slice fold (same constants, same codepoint stream: utf-32-le
    decoding and Spark's split('') both walk codepoints). The batch
    concatenates into ONE code array so every stage is a single
    large-vector op (per-doc numpy calls would be overhead-bound at
    the corpus's ~300-char documents).

    Why plain uint64 wraparound is EXACT here: 2^64 is a multiple of
    2^61, so arithmetic done mod 2^64 (numpy's native overflow
    behavior) followed by ``& (2^61 - 1)`` equals the mod-2^61
    result. The rolling state is the windowed dot
    h_i = sum_k g_{i-k} * 2^k — 32 shift-adds over the concatenated
    gear array (gear values are < 2^40, so each shifted term and the
    wrap-sum are exact mod 2^61); taps at shift >= 61 vanish mod
    2^61, so the window truncates at 61 like the oracle's closed
    form's modular arithmetic. The first window-1 positions of each
    document must not see the previous document's tail, so a
    (docs x window-1) fix-up recomputes exactly those states from
    each document's own prefix.

    Chunk assembly exploits contiguity: document ends C[d] are
    themselves chunk ends, and docs abut, so the sorted union of
    interior boundary positions and C is the global chunk-end list,
    and every chunk's start is simply the previous entry (the first
    chunk of doc d follows C[d-1] == its own doc start). Chunk
    fingerprints come from ONE global prefix cumsum of
    t_j = code_j * B^-(j - doc_start) (mod the PRIME POLY_MOD, so B
    is invertible; terms are < 2^30, exact in uint64 for any batch
    that fits in memory): for a span [s, e) inside doc d,
    h(span, 0) = B^(e-1-O_d) * (pref[e] - pref[s]) — the difference
    cancels every foreign term, and the exponents stay within the
    document, so ``pw``/``ipw`` (B^i / B^-i tables) only need to
    cover the longest document. Every character is read once; no
    per-char Python loop."""
    import numpy as np

    from ..functions.hashing import POLY_MOD, POLY_SEED

    joined = "".join(texts)
    n = len(joined)
    empty = np.zeros(0, dtype=np.int64)
    if n == 0:
        return empty, empty, empty, empty, empty
    lens = np.fromiter(
        (len(t) for t in texts), dtype=np.int64, count=len(texts)
    )
    C = np.cumsum(lens)  # exclusive doc ends (global, 1-based)
    O = C - lens  # doc starts (global, 0-based)

    codes = np.frombuffer(
        joined.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    g = (codes % np.uint64(256) + np.uint64(1)) * np.uint64(GOLD)
    w = min(window, 61)
    h = g.copy()
    for k in range(1, min(w, n)):
        h[k:] += g[: n - k] << np.uint64(k)
    # fix-up: position o_d + j (j < w-1) may only sum taps k <= j
    fw = min(w - 1, int(lens.max()))
    if fw > 0:
        J = np.arange(fw)
        P2 = O[:, None] + J[None, :]  # docs x fw global positions
        valid = J[None, :] < lens[:, None]
        hc = np.zeros_like(P2, dtype=np.uint64)
        for k in range(fw):
            # clip the gather for invalid cells (past a short last
            # doc); the valid mask drops them before the scatter
            src = np.minimum(P2[:, k:], n - 1 + k) - k
            hc[:, k:] += g[src] << np.uint64(k)
        h[P2[valid]] = hc[valid]
    h &= np.uint64(MOD - 1)
    mask = np.uint64((1 << mask_bits) - 1)
    ends = np.flatnonzero((h & mask) == 0) + 1  # global 1-based
    # interior boundaries only: drop ends that land on a doc end
    # (C entries are appended below — this dedups the coincidence)
    interior = ends[C[np.searchsorted(C, ends)] != ends]
    bounds = np.concatenate([interior, C])
    bounds.sort(kind="stable")
    starts = np.concatenate([[0], bounds[:-1]])
    ln = bounds - starts
    d_of = np.searchsorted(C, bounds)  # doc of each chunk
    first = np.searchsorted(bounds, O, side="right")
    ords = np.arange(1, len(bounds) + 1) - first[d_of]

    m = np.uint64(POLY_MOD)
    # per-position LOCAL offset (position - doc start) via repeat —
    # O(n) flat, no per-position binary search
    local = np.arange(n, dtype=np.int64)
    local -= np.repeat(O, lens)
    t = (codes * ipw[local]) % m
    pref = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(t, out=pref[1:])
    pref %= m
    dO = O[d_of]
    diff = (pref[bounds] + m - pref[starts]) % m
    span0 = (pw[bounds - 1 - dO] * diff) % m
    fp = (np.uint64(POLY_SEED) * pw[ln] + span0) % m
    return (
        d_of.astype(np.int64),
        ords.astype(np.int64),
        (starts - dO + 1).astype(np.int64),
        ln.astype(np.int64),
        fp.astype(np.int64),
    )


def cdc_chunks_pandas(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_bits: int = MASK_BITS,
    window: int = WINDOW,
) -> DataFrame:
    """(id, chunk_ord, chunk_start, chunk_len, chunk_fp) — one row
    per content-defined chunk; chunk_fp is the engine's cross-engine
    polynomial hash of the chunk text. Empty documents produce no
    rows (no characters, no chunks). One ``mapInPandas`` pass with
    the numpy vectorized closed form (:func:`_chunk_batch_np` — 32
    shift-adds for the rolling states, prefix polynomial hashes for
    the chunk fingerprints); tests/test_cdc.py pins it against the
    expression rendering the oracle replays. Narrow, no shuffle;
    Arrow batches in, chunk rows out. The output id column keeps the
    SOURCE id dtype (string doc ids work, not just bigint)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.hashing import POLY_BASE, POLY_MOD
    from ..pyship import ensure_shipped

    ensure_shipped(docs.sparkSession)
    src = docs.where(F.length(F.col(text_col)) > 0).select(
        F.col(id_col), F.col(text_col).alias("_t")
    )
    id_type = docs.schema[id_col].dataType

    def gen(batches):
        import pandas as pd

        binv = pow(POLY_BASE, POLY_MOD - 2, POLY_MOD)
        pw = _pow_mod_np(POLY_BASE, 0, POLY_MOD)
        ipw = _pow_mod_np(binv, 0, POLY_MOD)
        for pdf in batches:
            texts = list(pdf["_t"])
            maxlen = max(map(len, texts)) if texts else 0
            if len(pw) <= maxlen:
                pw = _pow_mod_np(POLY_BASE, maxlen, POLY_MOD)
                ipw = _pow_mod_np(binv, maxlen, POLY_MOD)
            d_of, ords, starts, lens, fps = _chunk_batch_np(
                texts, mask_bits, window, pw, ipw
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[d_of]
                    if len(d_of)
                    else pdf[id_col].iloc[:0],
                    "chunk_ord": ords,
                    "chunk_start": starts,
                    "chunk_len": lens,
                    "chunk_fp": fps,
                }
            )

    return src.mapInPandas(
        gen,
        schema=StructType(
            [StructField(id_col, id_type)]
            + [
                StructField(c, LongType())
                for c in (
                    "chunk_ord", "chunk_start", "chunk_len", "chunk_fp"
                )
            ]
        ),
    )


def cdc_shared_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_len: int = 8,
    mask_bits: int = MASK_BITS,
    window: int = WINDOW,
) -> DataFrame:
    """Chunk fingerprints appearing in >= min_docs distinct
    documents (the cross-document duplicate-content relation):
    (chunk_fp, n_docs, n_occurrences, max_len). ``min_len`` drops
    trivial slivers the 2^mask_bits boundary density makes common.
    Shuffle inventory: ONE groupBy on chunk_fp — fingerprints are
    uniform (polynomial hash), so no hot keys; at corpus scale this
    is the same band-key shape as MinHash LSH."""
    chunks = cdc_chunks_pandas(
        docs, text_col, id_col, mask_bits=mask_bits, window=window
    )
    return (
        chunks.where(F.col("chunk_len") >= min_len)
        .groupBy("chunk_fp")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("chunk_len").alias("max_len"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def cdc_duplication_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_len: int = 8,
    mask_bits: int = MASK_BITS,
    window: int = WINDOW,
) -> DataFrame:
    """Per-document duplicate-content ratio: the fraction of a
    document's characters covered by chunks whose fingerprint
    appears in >= min_docs distinct documents — the DOC-LEVEL gating
    signal CDC exists to produce (drop or down-weight documents that
    are mostly boilerplate shared with the rest of the corpus).

    Returns (id, n_chars, dup_chars, n_dup_chunks, dup_ratio);
    dup_ratio rounds to 6 places for cross-engine compare. Documents
    whose chunks are all shorter than ``min_len`` score 0.

    Shuffle inventory (single lineage — optimization round 11): CDC
    chunks exactly TILE each document (``sum(chunk_len) ==
    length(text)`` and every ``length > 0`` document emits >= 1
    chunk), so the base-document join and the cached double scan of
    the old shape are unnecessary. One window over ``chunk_fp``
    decides sharing — ``min(id) != max(id)`` over the *eligible*
    (``chunk_len >= min_len``) rows of the fingerprint, expressed as
    conditional min/max so ineligible rows still flow through for
    the ``n_chars`` sum — then one groupBy on the document id rolls
    everything up. Two uniform-key shuffles total; no persist, no
    semi-join, no second scan of the corpus. (min != max ⇔
    countDistinct >= 2; ``min_docs`` other than 2 falls back to the
    aggregate + semi-join rendering.)"""
    chunks = cdc_chunks_pandas(
        docs, text_col, id_col, mask_bits=mask_bits, window=window
    )
    if min_docs != 2:
        from ..cache_tracker import track

        eligible = track(
            chunks.where(F.col("chunk_len") >= min_len).persist()
        )
        shared = (
            eligible.groupBy("chunk_fp")
            .agg(F.countDistinct(id_col).alias("_nd"))
            .where(F.col("_nd") >= min_docs)
            .select("chunk_fp")
        )
        per_doc = (
            eligible.join(shared, "chunk_fp", "left_semi")
            .groupBy(id_col)
            .agg(
                F.sum("chunk_len").alias("dup_chars"),
                F.count(F.lit(1)).alias("n_dup_chunks"),
            )
        )
        base = docs.where(F.length(F.col(text_col)) > 0).select(
            F.col(id_col),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
        )
        dup = F.coalesce(F.col("dup_chars"), F.lit(0).cast("long"))
        return base.join(per_doc, id_col, "left").select(
            id_col,
            "n_chars",
            dup.alias("dup_chars"),
            F.coalesce(
                F.col("n_dup_chunks"), F.lit(0).cast("long")
            ).alias("n_dup_chunks"),
            F.round(dup / F.col("n_chars"), 6).alias("dup_ratio"),
        )

    from pyspark.sql import Window

    w = Window.partitionBy("chunk_fp")
    elig_id = F.when(
        F.col("chunk_len") >= min_len, F.col(id_col)
    )
    dup_row = (
        (F.col("chunk_len") >= min_len)
        & (F.min(elig_id).over(w) != F.max(elig_id).over(w))
    )
    dup_len = F.when(dup_row, F.col("chunk_len"))
    per_doc = (
        chunks.select(
            F.col(id_col),
            F.col("chunk_len"),
            dup_len.alias("_dl"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("chunk_len").alias("n_chars"),
            F.coalesce(F.sum("_dl"), F.lit(0).cast("long")).alias(
                "dup_chars"
            ),
            F.count("_dl").alias("n_dup_chunks"),
        )
    )
    return per_doc.select(
        id_col,
        "n_chars",
        "dup_chars",
        "n_dup_chunks",
        F.round(F.col("dup_chars") / F.col("n_chars"), 6).alias(
            "dup_ratio"
        ),
    )
