"""Text-analysis operators for training-data pipelines: quality
scoring, language identification, token counting, fingerprinting.

All pure Column compositions (JVM-side, codegen'd) — these run as one
map-side projection pass at any scale, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import poly_hash, shingle_hashes, tokens

PUNCT_PATTERN = "[.,;:!?]"
# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

# tiny per-language marker vocabularies for the n-gram/stopword
# language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "des", "une"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def n_tokens(text_col: Column | str) -> Column:
    return F.size(tokens(text_col))


def punct_count(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(PUNCT_PATTERN))


def stopword_count(text_col: Column | str) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(
        F.filter(tokens(text_col), lambda t: F.array_contains(sw, F.lower(t)))
    )


def quality_stats(text_col: Column | str) -> list[Column]:
    """Length/punct/stopword statistics + a composite quality flag."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    nt = F.size(toks)
    total_tok_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    nchars = F.length(c)
    stop = stopword_count(c)
    punct = punct_count(c)
    avg_tok = F.round(total_tok_len / nt, 6)
    punct_ratio = F.round(punct / nchars, 6)
    stop_ratio = F.round(stop / nt, 6)
    is_quality = (nt >= 10) & (avg_tok >= 2.0) & (avg_tok <= 12.0)
    return [
        nchars.alias("n_chars"),
        nt.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        is_quality.alias("is_quality"),
    ]


def lang_scores(text_col: Column | str) -> list[Column]:
    """Marker-hit counts per language (the classic stopword heuristic)."""
    toks = tokens(text_col)

    def has_marker(arr):
        return lambda t: F.array_contains(arr, F.lower(t))

    out = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out.append(F.size(F.filter(toks, has_marker(arr))).alias(f"score_{lang}"))
    return out


def predicted_lang() -> Column:
    """argmax over score_* columns, ties broken by fixed language order."""
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{la}") for la in langs])
    expr: Column = F.lit("und")
    for la in reversed(langs):
        expr = F.when(F.col(f"score_{la}") == best, F.lit(la)).otherwise(expr)
    # all-zero scores -> undetermined
    return F.when(best <= 0, F.lit("und")).otherwise(expr)


def bpe_token_count(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(c, F.lit(BPE_PATTERN))


def normalized_fingerprint(text_col: Column | str) -> Column:
    """Rolling-hash document fingerprint over normalized text
    (lowercased, whitespace collapsed)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return poly_hash(norm)


def winnow_min_shingle(text_col: Column | str) -> Column:
    """Winnowing-style robust fingerprint: min shingle hash."""
    return F.array_min(shingle_hashes(text_col, 3))


def register_ngrams_udtf(spark, name: str = "ngrams_udtf"):
    """Python UDTF (SURVEY §2.10 — UDTF surface, ABSENT in the
    reference): one row per token bigram with its position, usable as a
    lateral table function in SQL:

        SELECT d.doc_id, g.ngram, g.pos
        FROM docs d, LATERAL ngrams_udtf(d.text) g

    The row-per-row Python path is the SLOW lane — the engine's own
    shingle operators (functions.hashing.token_shingles) stay in
    Catalyst HOFs; this exists for user extensibility parity, where
    arbitrary Python generators are the point.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram: string, pos: int")
    class NGrams:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            toks = [t for t in (text or "").split() if t]
            for i in range(len(toks) - 1):
                yield " ".join(toks[i : i + 2]), i

    spark.udtf.register(name, NGrams)
    return NGrams


def repetition_stats(text_col: Column | str) -> list[Column]:
    """Within-document repetition: duplicated-unigram and
    duplicated-bigram ratios — the standard cheap filter for
    degenerate/boilerplate documents in pretraining corpora. Pure
    Column pass (one map-side projection, no shuffle)."""
    toks = tokens(text_col)
    n = F.size(toks)
    uni_d = F.size(F.array_distinct(toks))
    # slice length clamps to 0 for empty/single-token docs — a raw
    # n - 1 is -1 on zero tokens and slice() errors at runtime
    blen = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, blen),
        F.slice(toks, 2, blen),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    big_d = F.size(F.array_distinct(bigrams))
    return [
        n.cast("long").alias("n_tokens"),
        uni_d.cast("long").alias("distinct_tokens"),
        # both ratios guard their divisor (ANSI mode errors on /0)
        F.when(n > 0, F.round(1 - uni_d / n, 6))
        .otherwise(F.lit(0.0))
        .alias("token_repetition"),
        F.when(n > 1, F.round(1 - big_d / (n - 1), 6))
        .otherwise(F.lit(0.0))
        .alias("bigram_repetition"),
    ]


# Count-min sketch size: CMS_DEPTH hash rows x CMS_WIDTH buckets.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_cells(c: Column, depth: int, width: int) -> Column:
    """The (row, bucket) cell array of a key — THE one definition of
    the CMS hash family, shared by the batch sketch, the streaming
    per-batch sketches, and every probe (build and probe can never
    disagree on cells)."""
    from ..functions.hashing import poly_hash

    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (poly_hash(c, seed=1000003 + 77 * i) % width).alias(
                    "bucket"
                ),
            )
            for i in range(depth)
        ]
    )


def count_min_sketch(keys: "DataFrame", weight_col: str | None = None):
    """Count-min sketch of the key column ``s`` as a (CMS_DEPTH x
    CMS_WIDTH) count table: one exploded projection (CMS_DEPTH rows
    per key, map-side) and
    ONE shuffle on the uniform (row, bucket) pair — the mergeable
    sketch shape (sketches of partitions/days add cell-wise).

    With ``weight_col``, ``keys`` is a pre-aggregated (key, count)
    relation and cells accumulate ``sum(weight)`` instead of row
    counts — exact-identical by CMS additivity, and the sketch build
    shrinks from all-occurrences to distinct-key cardinality, so a
    single exact aggregate can feed the sketch, the totals, AND the
    top-k without re-reading the corpus.

    Returns (sketch_df, probe) where ``sketch_df`` is
    (row, bucket, cnt) — CMS_DEPTH*CMS_WIDTH rows, broadcastable — and
    ``probe(df, col)`` attaches ``cms_estimate`` = min over rows of the
    key's cell, the classic never-underestimating point query.
    """
    from pyspark.sql import DataFrame  # noqa: F401 (typing only)

    def cells(c):
        return cms_cells(c, CMS_DEPTH, CMS_WIDTH)

    w = F.col(weight_col) if weight_col else F.lit(1)
    sketch = (
        keys.select(F.explode(cells(F.col("s"))).alias("c"), w.alias("_w"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )

    def probe(df, col):
        probes = df.withColumn("_cells", cells(F.col(col))).withColumn(
            "_c", F.explode("_cells")
        )
        est = (
            probes.join(
                F.broadcast(sketch),
                (F.col("_c.row") == F.col("row"))
                & (F.col("_c.bucket") == F.col("bucket")),
                "left",
            )
            .groupBy(*df.columns)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
        )
        return est

    return sketch, probe


# --- PII detection / redaction -------------------------------------
# Patterns restricted to the syntax subset with identical semantics in
# Java regex (Spark, JVM-side regexp_count/regexp_replace) and RE2
# (DuckDB oracle): \b \d {n,m} (?:...) and character classes.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "id_number": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b555-\d{4}\b",
}
# Redaction applies in this order; patterns are mutually exclusive on
# any text (email has no dotted-quad, the 3-2-4 id grouping cannot
# match the 3-4 phone grouping), so order only affects the mask text.
PII_REDACTION_ORDER = ("email", "ip", "id_number", "phone")


def pii_counts(text_col: Column | str) -> list[Column]:
    """Per-category PII span counts — one JVM-side regexp_count per
    pattern, a single map-side projection at any scale. NULL text
    counts as zero spans (regexp_count would propagate the NULL)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.coalesce(c, F.lit(""))
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]


def redact_pii(text_col: Column | str) -> Column:
    """Mask every PII span with its [CATEGORY] token (chained
    regexp_replace — still one codegen'd projection). NULL text
    redacts to the empty string."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.coalesce(c, F.lit(""))
    for name in PII_REDACTION_ORDER:
        c = F.regexp_replace(c, PII_PATTERNS[name], f"[{name.upper()}]")
    return c


def tfidf_top_terms(docs: "DataFrame") -> "DataFrame":
    """Top-3 TF-IDF terms per document — the classic salient-term
    extractor (retrieval indexing, topic labeling, keyword features).

    Plan shape — the corpus is tokenized EXACTLY ONCE (a naive
    tf-join-df formulation re-plans the explode subtree per branch,
    4 corpus passes in practice):
      1. term frequencies: explode tokens -> groupBy (doc, term) —
         ONE shuffle on the (doc, term) pair, map-side combined;
      2. document frequencies: count() OVER (PARTITION BY term) on the
         tf relation (distinct (doc, term) rows by construction) — one
         shuffle of the already vocabulary×doc-sized tf rows, zero
         corpus recompute, no join;
      3. doc count N: a 1-row columnless aggregate
         broadcast-crossJoined in (metadata-cheap scan).
    The final top-k is one row_number window per doc (WindowGroupLimit
    prunes to k rows per doc BEFORE that shuffle).

    Determinism / oracle parity: idf = ln((N + 1) / (df + 1)) + 1
    (the smoothed sklearn form); scores are ROUNDED to 6 decimals
    before ranking so float ties resolve identically in every engine,
    then (score desc, term asc) breaks the remaining ties totally.
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401

    from ..functions.hashing import tokens

    term = F.explode(tokens(F.lower(F.col("text")))).alias("term")
    tf = (
        docs.select(F.col("doc_id"), term)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


# Gopher corpus-filter rule constants (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", App. A1.1 — the published heuristics)
GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_quality_flags(text_col: Column | str) -> list[Column]:
    """The Gopher heuristic quality rules as one codegen'd projection
    — per-document boolean flags plus the composite keep decision.

    Rules (document passes ALL to be kept): word count in [50, 1e5];
    mean word length in [3, 10]; symbol-to-word ratio (# / ellipsis)
    < 0.1; < 90% of lines bullet-started; < 30% of lines
    ellipsis-ended; > 80% of words contain an alphabetic character;
    >= 2 distinct members of the Gopher stopword set present.

    Pure Column math, map-side at any scale; denominators clamp to 1
    so empty documents evaluate (they fail the word-count rule anyway)
    instead of tripping ANSI division.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.coalesce(c, F.lit(""))
    toks = tokens(c)
    nt = F.size(toks)
    ntd = F.greatest(nt, F.lit(1))
    mean_wl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    ) / ntd
    n_sym = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    lines = F.filter(
        F.split(c, "\n"), lambda l: F.trim(l) != F.lit("")
    )
    nl = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).rlike(r"^(\-|\*|•|‣|▪)"),
        )
    )
    n_ell = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    rules = {
        "r_word_count": (nt >= GOPHER_MIN_WORDS)
        & (nt <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "r_symbol_ratio": (n_sym / ntd) < 0.1,
        "r_bullet_lines": (n_bullet / nl) < 0.9,
        "r_ellipsis_lines": (n_ell / nl) < 0.3,
        "r_alpha_words": (n_alpha / ntd) > 0.8,
        "r_stopwords": n_stop >= 2,
    }
    keep = F.lit(True)
    for expr in rules.values():
        keep = keep & expr
    return [
        nt.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("gopher_keep"),
    ]


# DSIR feature buckets, and the micro-nat quantization of each
# bucket's log-ratio.
DSIR_BUCKETS = 512
DSIR_SCALE = 1_000_000


def dsir_importance_weights(docs):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each raw
    document by the log-likelihood ratio of its hashed token features
    under a bag-of-features model of the TARGET distribution vs the
    RAW distribution, with add-one smoothing.

    The target distribution is the English (``lang = 'en'``) documents.

    Output: (doc_id, n_feats, dsir_score_micro) where
    ``dsir_score_micro = Σ_f round(1e6 * [ln p_t(f) - ln p_r(f)])``
    over the document's feature occurrences.

    Numerical design: the per-BUCKET log-ratio is quantized to an
    integer (micro-nats) once — DSIR_BUCKETS values total — and the
    per-document score is an INTEGER sum of those, so the result is
    exactly reproducible across engines and partitionings (float
    summation order never enters; the only cross-engine surface is
    one ln() per bucket, quantized).

    Plan shape (100 TB): one tokenize+hash pass over the corpus feeds
    both the bucket table (DSIR_BUCKETS rows — broadcast) and the per-doc
    sum; shuffles are the tiny bucket aggregation and one uniform
    doc-id groupBy.
    """
    from ..cache_tracker import track
    from ..functions.hashing import poly_hash, tokens

    # the feature relation feeds the bucket table AND the per-doc
    # score join — without the (tracker-released) persist each
    # consumer re-runs the tokenize + interpreted per-char poly_hash
    # pass (6 parquet scans in the round-12 before-plan)
    feats = track(
        docs.select(
            F.col("doc_id"),
            (F.col("lang") == "en").cast("int").alias("_is_t"),
            F.explode(tokens("text")).alias("_tok"),
        )
        .select(
            "doc_id", "_is_t", (poly_hash("_tok") % DSIR_BUCKETS).alias("_b")
        )
        .persist()
    )
    buckets = feats.groupBy("_b").agg(
        F.sum("_is_t").alias("_ct_t"),
        F.count(F.lit(1)).alias("_ct_r"),
    )
    totals = buckets.agg(
        F.sum("_ct_t").alias("_n_t"), F.sum("_ct_r").alias("_n_r")
    )
    scores = buckets.crossJoin(F.broadcast(totals)).select(
        "_b",
        F.round(
            (
                F.log(
                    (F.col("_ct_t") + 1).cast("double")
                    / (F.col("_n_t") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("_ct_r") + 1).cast("double")
                    / (F.col("_n_r") + DSIR_BUCKETS).cast("double")
                )
            )
            * DSIR_SCALE
        )
        .cast("long")
        .alias("_s"),
    )
    return (
        feats.join(F.broadcast(scores), "_b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("_s").alias("dsir_score_micro"),
        )
    )


def token_entropy(docs: "DataFrame") -> "DataFrame":
    """Per-``lang`` Shannon entropy of the token distribution — the
    corpus-diversity diagnostic a training-mix designer reads before
    setting sampling temperatures (low-entropy groups are templated/
    repetitive; entropy-per-language also flags mislabeled crawl
    shards). Extension-tier: no reference analogue.

    Plan shape (100 TB): ONE tokenize+explode pass -> groupBy
    (group, token) count with map-side partial aggregation (the
    shuffle carries vocabulary-sized rows, not the corpus) -> one
    tiny per-group rollup. No Python anywhere.

    Determinism / oracle parity: uses H = ln(N) - sum(c*ln c)/N over
    EXACT integer counts; the inner sum is over round(1e6 * c * ln c)
    integers (the DSIR micro-nat trick — no float accumulation
    order), and the final expression combines two exact numbers,
    rounded to 6 decimals like the TF-IDF scores.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    term = F.explode(tokens(F.lower(F.col("text")))).alias("term")
    counts = (
        docs.select(F.col("lang").alias("grp"), term)
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.groupBy("grp").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(
                F.round(
                    F.lit(1e6)
                    * F.col("c").cast("double")
                    * F.log(F.col("c").cast("double"))
                ).cast("long")
            )
            / (F.lit(1e6) * F.sum("c").cast("double")),
            6,
        ).alias("entropy_nats"),
    )
