"""Text-analysis queries over `documents`, with DuckDB oracles built
from the same constants (stopword lists, patterns, thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute
from ..functions.hashing import poly_hash_duckdb
from ..operators.text import (
    BPE_PATTERN,
    CMS_WIDTH,
    DSIR_BUCKETS,
    DSIR_SCALE,
    LANG_MARKERS,
    PUNCT_PATTERN,
    STOPWORDS,
    bpe_token_count,
    lang_scores,
    n_tokens,
    normalized_fingerprint,
    predicted_lang,
    quality_stats,
    winnow_min_shingle,
)
from ..registry import query

from ..functions.hashing import tokens_duckdb

_TOK = tokens_duckdb("text")


def _quality_oracle() -> str:
    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS toks FROM documents
    )
    SELECT doc_id,
      length(text) AS n_chars,
      len(toks) AS n_tokens,
      round(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) / len(toks), 6) AS avg_token_len,
      round(len(regexp_extract_all(text, '{PUNCT_PATTERN}')) / length(text), 6)
        AS punct_ratio,
      round(len(list_filter(toks, x -> list_contains([{sw}], lower(x)))) / len(toks), 6)
        AS stopword_ratio,
      (len(toks) >= 10
       AND round(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) / len(toks), 6) BETWEEN 2.0 AND 12.0)
        AS is_quality
    FROM t
    """


@query("text_quality_scores", _quality_oracle())
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_for_compute(spark, sf_dir, "documents")
    return docs.select("doc_id", *quality_stats("text"))


def _lang_oracle() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter({_TOK}, x -> list_contains([{mk}], lower(x)))) AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    case = "'und'"
    for la in reversed(langs):
        case = f"CASE WHEN score_{la} = {best} THEN '{la}' ELSE {case} END"
    return f"""
    WITH s AS (
      SELECT doc_id, lang, {', '.join(score_cols)} FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
      {', '.join(f'score_{la}' for la in langs)},
      CASE WHEN {best} <= 0 THEN 'und' ELSE {case} END AS predicted_lang
    FROM s
    """


@query("text_language_id", _lang_oracle())
def text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_for_compute(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *lang_scores("text"),
    ).withColumn("predicted_lang", predicted_lang())


@query(
    "text_token_counts",
    f"""
    SELECT doc_id,
      len({_TOK}) AS ws_tokens,
      len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens,
      round(length(text) / len(regexp_extract_all(text, '{BPE_PATTERN}')), 6)
        AS chars_per_token
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_for_compute(spark, sf_dir, "documents")
    bpe = bpe_token_count("text")
    return docs.select(
        "doc_id",
        n_tokens("text").alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(F.length("text") / bpe, 6).alias("chars_per_token"),
    )


def _fingerprint_oracle() -> str:
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    from ..functions.hashing import shingle_hashes_duckdb

    return f"""
    SELECT doc_id,
      {poly_hash_duckdb(norm)} AS fingerprint,
      list_min({shingle_hashes_duckdb('text', 3)}) AS min_shingle_hash
    FROM documents
    """


@query("text_fingerprints", _fingerprint_oracle())
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_for_compute(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalized_fingerprint("text").alias("fingerprint"),
        winnow_min_shingle("text").alias("min_shingle_hash"),
    )


def _frequent_ngrams_oracle() -> str:
    from ..functions.hashing import token_shingles_duckdb

    sh = token_shingles_duckdb("text", 2)
    return f"""
    SELECT shingle, count(*) AS doc_freq FROM (
      SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM documents
    )
    GROUP BY shingle
    ORDER BY doc_freq DESC, shingle
    LIMIT 50
    """


@query("text_frequent_ngrams_topk", _frequent_ngrams_oracle())
def frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-50 bigrams by document frequency. Exact
    two-phase: per-doc distinct shingles map-side (array_distinct),
    partial counts combine before the shuffle, global top-k after —
    the exact-counting shape; a sketch (count-min) would slot in at
    the same seam when exactness can be traded."""
    from ..functions.hashing import token_shingles

    docs = load_for_compute(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.array_distinct(token_shingles("text", 2))).alias("shingle")
        )
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(50)
    )


DECON_N = 5  # shingle width for contamination detection
EVAL_SET_MAX_ID = 20  # doc_id < 20 plays the held-out eval set


def _decontamination_oracle() -> str:
    from ..functions.hashing import shingle_hashes_duckdb

    sh = shingle_hashes_duckdb("text", DECON_N)
    return f"""
    WITH eval_sh AS (
      SELECT DISTINCT h FROM (
        SELECT unnest({sh}) AS h FROM documents
        WHERE doc_id < {EVAL_SET_MAX_ID}
      )
    ),
    train_sh AS (
      SELECT doc_id, unnest(list_distinct({sh})) AS h FROM documents
      WHERE doc_id >= {EVAL_SET_MAX_ID}
    )
    SELECT doc_id, count(*) AS n_shared_shingles
    FROM train_sh JOIN eval_sh USING (h)
    GROUP BY doc_id
    """


@query("text_eval_decontamination", _decontamination_oracle())
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training documents sharing any
    DECON_N-gram with the held-out eval set, with the shared-shingle
    count as the contamination score (drop or audit these before
    training). Shingles are hashed map-side (64-bit poly hash — the
    join ships longs, never strings); the eval side is tiny and
    broadcasts, so the train corpus is ONE narrow pass + one group agg
    at any scale."""
    from ..operators.dedup import shingle_hash_relation

    docs = load_for_compute(spark, sf_dir, "documents")
    eval_sh = (
        shingle_hash_relation(
            docs.where(F.col("doc_id") < EVAL_SET_MAX_ID),
            "text",
            "doc_id",
            DECON_N,
        )
        .select("h")
        .distinct()
    )
    train_sh = shingle_hash_relation(
        docs.where(F.col("doc_id") >= EVAL_SET_MAX_ID),
        "text",
        "doc_id",
        DECON_N,
    ).select(F.col("_id").alias("doc_id"), "h")
    return (
        train_sh.join(F.broadcast(eval_sh), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


VOCAB_TOP_N = 10  # the synthetic corpus has ~31 distinct tokens; 10
# keeps coverage a real fraction (a top-N >= |vocab| would make the
# query vacuously 1.0 and unable to catch join mistakes)


def _vocab_coverage_oracle() -> str:
    tok = tokens_duckdb("text")
    return f"""
    WITH toks AS (
      SELECT unnest({tok}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
        FROM toks GROUP BY tok
      ) WHERE rk <= {VOCAB_TOP_N}
    )
    SELECT
      CAST(count(*) AS BIGINT) AS total_tokens,
      CAST(count(CASE WHEN v.tok IS NOT NULL THEN 1 END) AS BIGINT)
        AS covered_tokens,
      round(count(CASE WHEN v.tok IS NOT NULL THEN 1 END)
            / CAST(count(*) AS DOUBLE), 6) AS coverage
    FROM toks LEFT JOIN vocab v USING (tok)
    """


@query("text_vocab_coverage", _vocab_coverage_oracle())
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: what fraction of corpus tokens does a
    top-N unigram vocab cover? Two passes over the exploded tokens
    (count -> rank -> broadcast top-N -> covered count); the heavy
    hitter set is exact, ties broken lexicographically so both engines
    pick the identical vocab."""
    from ..functions.hashing import tokens

    docs = load_for_compute(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    from pyspark.sql import Window

    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("tok").asc())
            ),
        )
        .where(F.col("rk") <= VOCAB_TOP_N)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    # the marker column (not the coalesced join key, which is never
    # null on a left join) distinguishes covered tokens
    return toks.join(F.broadcast(vocab), "tok", "left_outer").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count(F.col("_in_vocab")).alias("_cov_raw"),
    ).select(
        "total_tokens",
        F.col("_cov_raw").alias("covered_tokens"),
        F.round(F.col("_cov_raw") / F.col("total_tokens"), 6).alias("coverage"),
    )


def _repetition_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    b AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) > 1 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])
             ELSE [] END AS bigs
      FROM t
      WHERE len(toks) > 0
    )
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens,
      round(1 - len(list_distinct(toks)) / len(toks), 6)
        AS token_repetition,
      CASE WHEN len(toks) > 1 THEN
        round(1 - len(list_distinct(bigs)) / (len(toks) - 1), 6)
      ELSE 0.0 END AS bigram_repetition
    FROM b
    """


@query("text_repetition_stats", _repetition_oracle())
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-unigram/bigram ratios per document — the boilerplate/
    degeneracy filter for pretraining corpora."""
    from ..operators.text import repetition_stats

    docs = load_for_compute(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", *repetition_stats("text"))
        .where(F.col("n_tokens") > 0)
    )


CMS_SLACK = 8  # tolerated overestimate: SLACK * stream/size / width


def _cms_oracle() -> str:
    from ..functions.hashing import token_shingles_duckdb

    sh = token_shingles_duckdb("text", 2)
    return f"""
    SELECT shingle, doc_freq, TRUE AS cms_within_bounds FROM (
      SELECT shingle, count(*) AS doc_freq FROM (
        SELECT doc_id, unnest(list_distinct({sh})) AS shingle FROM documents
      )
      GROUP BY shingle
      ORDER BY doc_freq DESC, shingle
      LIMIT 50
    )
    """


@query("text_cms_heavy_hitters", _cms_oracle())
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries over the top-50 exact heavy
    hitters — the sketch seam the exact top-k query documents. The
    hash-checked columns are the exact counts; the sketch earns its
    hard signal through ``cms_within_bounds``: the CM estimate can
    NEVER underestimate (min over depth rows of the key's counters)
    and must stay within the slack-scaled n/width overestimate
    envelope. The oracle emits constant TRUE — sketch drift outside
    either bound hash-mismatches the row.

    One corpus pass: the exact (shingle, doc_freq) aggregate is built
    once and feeds the sketch (cells weighted by doc_freq — identical
    by CMS additivity), the stream total (sum(doc_freq)), and the
    top-50, so the tokenize+shingle scan and its shuffle run once and
    Spark reuses the exchange across the three consumers."""
    from ..functions.hashing import token_shingles
    from ..operators.text import count_min_sketch

    docs = load_for_compute(spark, sf_dir, "documents")
    shingles = docs.select(
        F.explode(F.array_distinct(token_shingles("text", 2))).alias("s")
    )
    exact = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("doc_freq"))
    sketch, probe = count_min_sketch(exact, weight_col="doc_freq")
    top = exact.orderBy(F.desc("doc_freq"), F.asc("s")).limit(50)
    est = probe(top, "s")
    total = exact.agg(F.sum("doc_freq").alias("_n"))
    within = (F.col("cms_estimate") >= F.col("doc_freq")) & (
        F.col("cms_estimate")
        <= F.col("doc_freq") + CMS_SLACK * F.col("_n") / CMS_WIDTH
    )
    return est.crossJoin(F.broadcast(total)).select(
        F.col("s").alias("shingle"),
        "doc_freq",
        within.alias("cms_within_bounds"),
    )


def _pii_aug_sql() -> str:
    """The deterministic PII-injection expression (DuckDB side).

    The synthetic corpus is digit-free (TESTDATA.md), so a PII query
    over the raw text would be vacuously all-zero; instead both engines
    append identical doc_id-derived spans — an email and a phone on
    every document, a dotted-quad on every 3rd, an SSN-shaped id on
    every 5th — and the detector/redactor is exercised against text
    where it has real work and a hash-checkable answer."""
    return (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || ' call 555-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0 THEN"
        " ' from ' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)"
        " || '.' || CAST(doc_id * 5 % 256 AS VARCHAR)"
        " || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)"
        " ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN"
        " ' id ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
        " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " ELSE '' END"
    )


def _pii_aug_col() -> F.Column:
    """The same PII-injection expression, Spark side."""
    d = F.col("doc_id")

    def s(c: F.Column) -> F.Column:
        return c.cast("string")

    return F.concat(
        F.col("text"),
        F.lit(" contact user"), s(d), F.lit("@example.com"),
        F.lit(" call 555-"), F.lpad(s(d * 7 % 10000), 4, "0"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" from "), s(d % 256),
                F.lit("."), s(d * 3 % 256),
                F.lit("."), s(d * 5 % 256),
                F.lit("."), s(d * 7 % 256),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" id "), F.lpad(s(d % 1000), 3, "0"),
                F.lit("-"), F.lpad(s(d % 100), 2, "0"),
                F.lit("-"), F.lpad(s(d % 10000), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


def _pii_oracle() -> str:
    from ..operators.text import PII_PATTERNS, PII_REDACTION_ORDER

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(aug, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = "aug"
    for name in PII_REDACTION_ORDER:
        red = (
            f"regexp_replace({red}, '{PII_PATTERNS[name]}', "
            f"'[{name.upper()}]', 'g')"
        )
    return f"""
    WITH a AS (
      SELECT doc_id, {_pii_aug_sql()} AS aug FROM documents
    )
    SELECT doc_id, {counts},
      CAST(length({red}) AS BIGINT) AS redacted_len,
      md5({red}) AS redacted_md5
    FROM a
    """


@query("text_pii_redaction", _pii_oracle())
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-category span counts and the
    masked text (verified by length + md5 so the full redacted string
    is hash-checked without shipping it). Pure Column regex pass —
    map-side, no shuffle, no Python — the compliance-scrubbing stage of
    a pretraining pipeline."""
    from ..operators.text import pii_counts, redact_pii

    docs = load_for_compute(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _pii_aug_col().alias("aug"))
    red = redact_pii("aug")
    return aug.select(
        "doc_id",
        *pii_counts("aug"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


BPE_TOP_PAIRS = 20


def _bpe_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT unnest({_TOK}) AS word FROM documents
    ),
    wc AS (
      SELECT word, count(*) AS c FROM w GROUP BY word
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, i, 2))) AS pair, c
      FROM wc WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(c) AS BIGINT) AS pair_freq
    FROM p GROUP BY pair
    ORDER BY pair_freq DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """


@query("text_bpe_merge_step", _bpe_oracle())
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: corpus-weighted adjacent-symbol
    pair counts, top candidates by frequency (ties lexicographic).

    The shape IS the classic BPE trick: collapse the corpus to
    (distinct word, count) FIRST — vocab-sized, tiny vs the corpus —
    then enumerate adjacent pairs over distinct words only, weighted
    by the word count. At 100 TB the corpus pass is one tokenize +
    uniform word shuffle; every subsequent merge iteration works on
    the vocab relation and never re-reads the corpus."""
    from ..functions.hashing import tokens

    docs = load_for_compute(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = F.col("word")
    pairs = wc.where(F.length(w) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(w) - 1),
                lambda i: w.substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


RARE_MAX_COUNT = 500  # a token this infrequent (corpus-wide) is "rare"


def _unigram_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    uni AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM uni)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(cnt / total), 6) AS mean_token_freq,
           round(avg(CASE WHEN cnt <= {RARE_MAX_COUNT} THEN 1.0
                          ELSE 0.0 END), 6) AS rare_frac
    FROM toks JOIN uni USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """


@query("text_unigram_lm_scores", _unigram_oracle())
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring — the CCNet-style quality filter:
    train the unigram distribution ON the corpus, score every document
    by its tokens' corpus frequency. ``mean_token_freq`` high = built
    from very common tokens (boilerplate-leaning); ``rare_frac`` high =
    unusual vocabulary (OCR noise / other-language leakage). The
    production variant scores cross-entropy (-avg log p) under a clean
    reference LM — same dataflow, a log() on the same joined column;
    the ratio form here keeps the oracle arithmetic IEEE-exact.

    Plan shape: one tokenize pass feeds BOTH the unigram count (vocab-
    sized) and the per-doc score join; the unigram table broadcasts, so
    the corpus shuffles once (the doc_id re-group)."""
    from ..functions.hashing import tokens

    docs = load_for_compute(spark, sf_dir, "documents")
    # measured round 12: persisting toks for its three consumers LOST
    # (1.13 -> 1.42 s interleaved min-of-4) — plain tokenize+explode
    # is cheaper than the cache materialization barrier here, unlike
    # dsir's per-token poly_hash relation, which caches. Left alone.
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.col("cnt") / F.col("total")), 6).alias(
                "mean_token_freq"
            ),
            F.round(
                F.avg(
                    F.when(
                        F.col("cnt") <= RARE_MAX_COUNT, F.lit(1.0)
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("rare_frac"),
        )
    )


# ---------------------------------------------------------------------------
# round-3 session additions: TF-IDF, Bloom-filter screening, RAG chunking


def _tfidf_oracle() -> str:
    toks = tokens_duckdb("lower(text)")
    return f"""
    WITH tf AS (
      SELECT doc_id, t.term AS term, count(*) AS tf
      FROM documents, UNNEST({toks}) AS t(term)
      GROUP BY doc_id, t.term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, tfidf FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
      ) AS rank FROM scored
    ) WHERE rank <= 3
    """


@query("text_tfidf_top_terms", _tfidf_oracle())
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by smoothed TF-IDF
    (operators/text.py:tfidf_top_terms — three uniform-key
    aggregations + one per-doc window, rounded-then-ranked so the
    ordering is engine-independent)."""
    from ..operators.text import tfidf_top_terms

    docs = load_for_compute(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


def _bloom_oracle() -> str:
    from ..functions.hashing import token_shingles_duckdb
    from ..operators.bloom import bloom_positions_duckdb

    toks = token_shingles_duckdb("lower(text)", 3)
    h = poly_hash_duckdb("term")
    # m = 32768 for the ~5k-shingle reference set (~14% fill, a few
    # percent measured FP rate — the regime a sized filter runs at)
    p1, p2, p3 = bloom_positions_duckdb(h, m=32768)
    return f"""
    WITH vocab AS (
      SELECT DISTINCT t.term AS term
      FROM documents, UNNEST({toks}) AS t(term)
      WHERE source = 'src0'
    ), bits AS (
      SELECT DISTINCT unnest([{p1}, {p2}, {p3}]) AS bit FROM vocab
    ), blist AS (SELECT list(bit) AS bs FROM bits),
    probe AS (
      SELECT DISTINCT doc_id, lang, t.term AS term
      FROM documents, UNNEST({toks}) AS t(term)
      WHERE source <> 'src0'
    ), flagged AS (
      SELECT lang,
             (list_contains(blist.bs, {p1})
              AND list_contains(blist.bs, {p2})
              AND list_contains(blist.bs, {p3})) AS bloom_pass,
             term IN (SELECT term FROM vocab) AS exact_pass
      FROM probe CROSS JOIN blist
    )
    SELECT lang, count(*) AS n_terms,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(sum(CASE WHEN exact_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN bloom_pass AND NOT exact_pass
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM flagged
    GROUP BY lang
    ORDER BY lang
    """


@query("text_bloom_vocab_screen", _bloom_oracle())
def text_bloom_vocab_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter shingle screening (operators/bloom.py): build the
    filter from src0's 3-token shingle set, broadcast it, screen every
    other document's distinct shingles map-side; per-language counts
    of bloom hits vs exact membership expose the measured
    (deterministic) false-positive tally. Shingles, not unigrams — the
    synthetic corpus shares one small word list, so unigram membership
    is always true; 3-gram space is diverse enough that both misses
    and genuine bloom false positives occur."""
    from ..catalog import load_table
    from ..operators.bloom import bloom_probe, build_bloom
    from ..operators.dedup import shingle_term_relation

    # Round 12 (VERDICT r11 task 7, guide §4.2): the per-doc distinct
    # shingle relation comes from the Arrow-batched kernel that also
    # carries each term's poly hash (== poly_hash(term) by the concat
    # identity, pinned in tests/test_text_np.py), so neither the
    # build nor the probe side pays the interpreted char-fold hash;
    # lowercasing stays JVM-side so case semantics are unchanged.
    # Plain scan: the kernel wants few large batches.
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        shingle_term_relation(
            docs.where(F.col("source") == "src0"),
            F.lower(F.col("text")),
            id_cols=("doc_id",),
        )
        .select("term", "_h")
        .distinct()
    )
    bloom = build_bloom(vocab, "term", m=32768, hash_col="_h")
    # per-doc distinct is built into the kernel — an extra distinct
    # would re-shuffle the full probe relation for nothing
    probe = shingle_term_relation(
        docs.where(F.col("source") != "src0"),
        F.lower(F.col("text")),
        id_cols=("doc_id", "lang"),
    )
    probed = bloom_probe(probe, "term", bloom, m=32768, hash_col="_h")
    exact = probed.join(
        F.broadcast(
            vocab.select("term").withColumn("_in_vocab", F.lit(True))
        ),
        "term",
        "left",
    ).withColumn("exact_pass", F.col("_in_vocab").isNotNull())
    return (
        exact.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
            F.sum(F.col("exact_pass").cast("long")).alias("n_exact"),
            F.sum(
                (F.col("bloom_pass") & ~F.col("exact_pass")).cast("long")
            ).alias("n_false_pos"),
        )
        .orderBy("lang")
    )


_CHUNK_SIZE = 200
_CHUNK_OVERLAP = 40
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


def _chunk_oracle() -> str:
    h = poly_hash_duckdb(f"substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE})")
    return f"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(range(0,
               CASE WHEN length(text) <= {_CHUNK_SIZE} THEN 1
                    ELSE (length(text) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                         // {_CHUNK_STRIDE} + 1 END)) AS i
      FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(i * {_CHUNK_STRIDE} AS INT) AS chunk_start,
           CAST(length(substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE}))
                AS INT) AS chunk_len,
           {h} AS chunk_hash
    FROM starts
    """


@query("rag_chunk_overlap_manifest", _chunk_oracle())
def rag_chunk_overlap_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping RAG chunk manifest (operators/chunking.py): 200-char
    windows with 40-char overlap, one narrow posexplode pass; chunk
    text is emitted as its cross-engine content hash so the manifest
    stays compact."""
    from ..functions.hashing import poly_hash
    from ..operators.chunking import chunk_documents

    docs = load_for_compute(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", _CHUNK_SIZE, _CHUNK_OVERLAP
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "chunk_len",
        poly_hash(F.col("chunk_text")).alias("chunk_hash"),
    )


def _gopher_oracle() -> str:
    from ..operators.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    toks = tokens_duckdb("text")
    sw = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {toks} AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        len(toks) AS nt,
        greatest(len(toks), 1) AS ntd,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(toks, x -> CAST(length(x) AS BIGINT))),
          (a, b) -> a + b) / greatest(len(toks), 1) AS mean_wl,
        len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym,
        greatest(len(lines), 1) AS nl,
        len(list_filter(lines,
            l -> regexp_matches(trim(l), '^(\\-|\\*|•|‣|▪)'))) AS n_bullet,
        len(list_filter(lines,
            l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS n_ell,
        len(list_filter(toks,
            x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        len(list_intersect(
            list_distinct(list_transform(toks, x -> lower(x))),
            [{sw}])) AS n_stop
      FROM t
    )
    SELECT doc_id,
      nt AS n_words,
      round(mean_wl, 6) AS mean_word_len,
      (nt >= {GOPHER_MIN_WORDS} AND nt <= {GOPHER_MAX_WORDS})
        AS r_word_count,
      (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_mean_word_len,
      (n_sym / ntd) < 0.1 AS r_symbol_ratio,
      (n_bullet / nl) < 0.9 AS r_bullet_lines,
      (n_ell / nl) < 0.3 AS r_ellipsis_lines,
      (n_alpha / ntd) > 0.8 AS r_alpha_words,
      n_stop >= 2 AS r_stopwords,
      ((nt >= {GOPHER_MIN_WORDS} AND nt <= {GOPHER_MAX_WORDS})
       AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
       AND (n_sym / ntd) < 0.1
       AND (n_bullet / nl) < 0.9
       AND (n_ell / nl) < 0.3
       AND (n_alpha / ntd) > 0.8
       AND n_stop >= 2) AS gopher_keep
    FROM m
    """


@query("text_gopher_quality", _gopher_oracle())
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher heuristic corpus-filter rules
    (operators/text.py:gopher_quality_flags) — per-document rule flags
    + composite keep, one codegen'd projection pass. On this synthetic
    database-jargon corpus the stopword rule rejects every document
    (only 'the' ever occurs) — which is the rule working as published:
    it is an English-prose detector, and this corpus is not prose. The
    per-rule columns carry the discriminating signal (word-count and
    mean-word-length split the corpus)."""
    from ..operators.text import gopher_quality_flags

    docs = load_for_compute(spark, sf_dir, "documents")
    return docs.select("doc_id", *gopher_quality_flags("text"))


# ---------------------------------------------------------------------------
# round-4 addition: DSIR importance weights (Xie et al. 2023) — the
# target-distribution data-selection scorer



def _dsir_oracle() -> str:
    h = poly_hash_duckdb("tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS INT) AS is_t,
             ({h}) % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang, unnest({_TOK}) AS tok FROM documents)
    ),
    buckets AS (
      SELECT b, sum(is_t) AS ct_t, count(*) AS ct_r
      FROM toks GROUP BY b
    ),
    tot AS (SELECT sum(ct_t) AS n_t, sum(ct_r) AS n_r FROM buckets),
    scores AS (
      SELECT b,
             CAST(round((ln(CAST(ct_t + 1 AS DOUBLE)
                            / CAST(n_t + {DSIR_BUCKETS} AS DOUBLE))
                       - ln(CAST(ct_r + 1 AS DOUBLE)
                            / CAST(n_r + {DSIR_BUCKETS} AS DOUBLE)))
                       * {DSIR_SCALE}) AS BIGINT) AS s
      FROM buckets CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_feats,
           CAST(sum(s) AS BIGINT) AS dsir_score_micro
    FROM toks JOIN scores USING (b)
    GROUP BY doc_id
    """


@query("text_dsir_importance", _dsir_oracle())
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed-feature log-likelihood ratio of the
    en-language target slice vs the raw corpus, integer micro-nat
    scores (see operators/text.dsir_importance_weights for the
    cross-engine numerical design)."""
    from ..operators.text import dsir_importance_weights

    docs = load_for_compute(spark, sf_dir, "documents")
    return dsir_importance_weights(docs)


def _token_entropy_oracle() -> str:
    tok = tokens_duckdb("lower(text)")
    return f"""
    WITH term AS (
      SELECT lang AS grp, unnest({tok}) AS term FROM documents
    ),
    counts AS (
      SELECT grp, term, count(*) AS c FROM term GROUP BY grp, term
    )
    SELECT grp,
           -- CAST: DuckDB sum(BIGINT) is HUGEINT -> pandas float64,
           -- which the harness's dtype-sensitive hash rejects vs
           -- Spark's bigint (the ch_sql_numbers_rollup class).
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(ln(sum(c)) -
                 sum(CAST(round(1e6 * c * ln(c)) AS BIGINT))
                 / (1e6 * sum(c)), 6) AS entropy_nats
    FROM counts
    GROUP BY grp
    ORDER BY grp
    """


@query("text_token_entropy", _token_entropy_oracle())
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_entropy

    docs = load_for_compute(spark, sf_dir, "documents")
    return token_entropy(docs).orderBy("grp")


# ------------------------------------------- interpolated bigram LM

LM_LAMBDA = 0.7       # bigram weight; (1-λ) falls back to unigram
LM_SCALE = 1_000_000  # integer micro-nats (the DSIR exactness trick)


def _bigram_lm_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOK} AS a FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(a) AS tok FROM base
    ),
    uni AS (
      SELECT tok, count(*) AS cw FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS total FROM uni),
    bg AS (
      SELECT doc_id, a[i] AS prev, a[i + 1] AS tok
      FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM base)
    ),
    bgc AS (
      SELECT prev, tok, count(*) AS cbg FROM bg GROUP BY prev, tok
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(round({LM_SCALE} * ln(
               {LM_LAMBDA} * (bgc.cbg / up.cw)
               + {1.0 - LM_LAMBDA} * (uw.cw / tot.total)
             )) AS BIGINT) AS term
      FROM bg
      JOIN bgc ON bgc.prev = bg.prev AND bgc.tok = bg.tok
      JOIN uni up ON up.tok = bg.prev
      JOIN uni uw ON uw.tok = bg.tok
      CROSS JOIN tot
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(-sum(term) AS BIGINT) AS nll_micro,
           round(CAST(-sum(term) AS DOUBLE)
                 / ({LM_SCALE} * count(*)), 6) AS avg_nll
    FROM scored
    GROUP BY doc_id
    """


@query("text_bigram_lm_scores", _bigram_lm_oracle())
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM document scoring — the KenLM-shaped
    quality filter one rung above the unigram scorer: per scored
    token, -ln(λ·P(w|prev) + (1-λ)·P(w)) with both distributions
    trained ON the corpus, summed per document in integer micro-nats
    (each term rounds to a BIGINT before the sum, so the cross-engine
    result is exact regardless of fold order — the DSIR design).

    Plan shape: bigrams come from the token ARRAY map-side (zip of
    the array with its own tail — no per-doc window sort); the
    unigram table is vocab-sized and broadcasts; the bigram-count
    join shuffles on (prev, tok) — at 100 TB that relation is
    heavy-tailed but bounded by observed bigram vocabulary, and the
    join key is uniform under hashing. One corpus re-group on doc_id
    at the end."""
    from pyspark.sql import Window as W

    from ..cache_tracker import track
    from ..functions.hashing import tokens

    docs = load_for_compute(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("a"))
    toks = base.select("doc_id", F.explode("a").alias("tok"))
    # vocab-sized; persisted (tracker-released after the query) because
    # THREE consumers derive from it (the broadcast lookup for prev,
    # the one for tok, and the corpus total) — without the cache each
    # re-runs the tokenize+explode+groupBy subtree (round 12: the
    # before-plan shows 5 parquet scans / 5 Generate passes, one per
    # consumer; after: 2 scans).
    uni = track(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cw")).persist()
    )
    total = uni.agg(F.sum("cw").cast("double").alias("total"))
    n1 = F.greatest(F.size("a") - 1, F.lit(0))
    bg = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("a", 1, n1),
                F.slice("a", 2, n1),
                lambda p, t: F.struct(p.alias("prev"), t.alias("tok")),
            )
        ).alias("b"),
    ).select("doc_id", "b.prev", "b.tok")
    # bigram counts as a window over the bigram relation itself — the
    # former groupBy+join-back evaluated the bigram subtree twice, and
    # at 100 TB the bigram-vocabulary count table is not broadcastable
    # while this is ONE shuffle of the bigram rows (guide §2.4, the
    # same rewrite duplicated_spans got in r11). count == the joined
    # groupBy count exactly.
    bg = bg.withColumn(
        "cbg", F.count(F.lit(1)).over(W.partitionBy("prev", "tok"))
    )
    up = uni.select(F.col("tok").alias("prev"), F.col("cw").alias("cp"))
    term = F.round(
        F.lit(float(LM_SCALE))
        * F.log(
            F.lit(LM_LAMBDA) * (F.col("cbg") / F.col("cp"))
            + F.lit(1.0 - LM_LAMBDA) * (F.col("cw") / F.col("total"))
        )
    ).cast("long")
    return (
        bg.join(F.broadcast(up), "prev")
        .join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("term")).cast("long").alias("nll_micro"),
            F.round(
                (-F.sum("term")).cast("double")
                / (F.lit(float(LM_SCALE)) * F.count(F.lit(1))),
                6,
            ).alias("avg_nll"),
        )
    )


# -- within-document repetition excision (round 10) --------------------
# The de-looping cleanup: spans whose every 16-char shingle already
# occurred EARLIER in the same document are cut (first occurrence
# kept). The oracle replays the positional flag (i > min(i) over
# (doc, shingle-hash)), the gaps-and-islands merge, and the excision
# fold, then hash-checks the cleaned text per language — the same
# digest technique as pipeline_span_excision.
def _self_repetition_oracle() -> str:
    from ..operators.dedup import SELF_REP_K as k

    return f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {k - 1})) AS i,
             text
      FROM documents WHERE length(text) >= {k}
    ), sh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {k})), 1, 16) AS h
      FROM pos
    ), fl AS (
      SELECT doc_id, i,
             min(i) OVER (PARTITION BY doc_id, h) AS mn
      FROM sh
    ), flagged AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM fl WHERE i > mn
    ), spans AS (
      SELECT doc_id,
             min(i)::BIGINT AS s,
             (max(i) + {k - 1})::BIGINT AS e
      FROM flagged GROUP BY doc_id, i - rn
    ), pieces AS (
      SELECT sp.doc_id, sp.s, sp.e,
             lag(sp.e, 1, 0) OVER (
               PARTITION BY sp.doc_id ORDER BY sp.s
             ) AS pe,
             d.text
      FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
    ), gaps AS (
      SELECT doc_id,
             count(*) AS n_spans,
             string_agg(substr(text, (pe + 1)::INT,
                               greatest((s - pe - 1)::INT, 0)),
                        '' ORDER BY s) AS kept,
             max(e) AS laste
      FROM pieces GROUP BY doc_id
    ), cleaned AS (
      SELECT d.doc_id, d.lang, d.text,
             COALESCE(g.n_spans, 0) AS n_spans,
             COALESCE(g.kept, '') ||
               substr(d.text, (COALESCE(g.laste, 0) + 1)::INT,
                      greatest((length(d.text)
                                - COALESCE(g.laste, 0))::INT, 0))
               AS clean_text
      FROM documents d LEFT JOIN gaps g ON d.doc_id = g.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_touched,
           sum(n_spans)::BIGINT AS spans_total,
           sum(length(text))::BIGINT AS chars_before,
           sum(length(clean_text))::BIGINT AS chars_after,
           md5(string_agg(md5(clean_text), '' ORDER BY doc_id))
             AS clean_digest
    FROM cleaned GROUP BY lang ORDER BY lang
    """


@query("text_self_repetition_excision", _self_repetition_oracle())
def text_self_repetition_excision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Within-document repetition excision: cut spans whose every
    16-char shingle already occurred earlier in the SAME document
    (first occurrence kept) — the de-looping cleanup for generated
    or boilerplate-heavy text. One window min over (doc, shingle
    hash) flags repeats (no self-join); the oracle hash-checks the
    cleaned text per language."""
    from ..operators.dedup import excise_spans, self_repetition_spans

    docs = load_for_compute(spark, sf_dir, "documents")
    spans = self_repetition_spans(docs, "text", "doc_id")
    cleaned = excise_spans(
        docs.select("doc_id", "text"), spans, "text", "doc_id"
    ).join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
    per_doc_digest = F.md5(F.col("clean_text").cast("binary"))
    return (
        cleaned.select(
            "id", "lang", "n_spans",
            F.length("text").alias("cb"),
            F.length("clean_text").alias("ca"),
            per_doc_digest.alias("h"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_spans") > 0).cast("long")).alias(
                "docs_touched"
            ),
            F.sum("n_spans").alias("spans_total"),
            F.sum("cb").alias("chars_before"),
            F.sum("ca").alias("chars_after"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("id", "h"))
                        ),
                        lambda x: x["h"],
                    ),
                ).cast("binary")
            ).alias("clean_digest"),
        )
        .orderBy("lang")
    )
