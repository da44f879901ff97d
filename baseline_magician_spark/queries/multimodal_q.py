"""Multimodal queries over `documents` + the deterministic payload
model. The Spark path round-trips REAL binary payloads through Arrow
mapInPandas stages; the DuckDB oracle recomputes the same statistics
from the shared byte arithmetic ((d*131 + i*197 + 23) % 256, length
64 + d % 191) without constructing the blob — so the check validates
both the math and the binary plumbing end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.multimodal import (
    BYTE_A,
    attach_wav,
    decode_media,
    pcm_stats,
    real_decoder,
    BYTE_B,
    BYTE_C,
    FEATURE_DIM,
    FRAME_BYTES,
    FRAME_STRIDE,
    LEN_BASE,
    LEN_MOD,
    attach_media,
    decode_stats,
    extract_features,
    sample_frames,
)
from ..registry import query

_BYTE = f"(doc_id*{BYTE_A} + i*{BYTE_B} + {BYTE_C}) % 256"
_LEN = f"({LEN_BASE} + doc_id % {LEN_MOD})"
_MEDIA_TYPE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' "
    "WHEN 1 THEN 'audio' ELSE 'video' END"
)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attach_media(load_table(spark, sf_dir, "documents"))


def _decode_oracle() -> str:
    return f"""
    SELECT doc_id,
           {_MEDIA_TYPE} AS media_type,
           CAST({_LEN} AS BIGINT) AS byte_len,
           CAST(list_sum(list_transform(range(0, {_LEN}),
                i -> {_BYTE})) AS BIGINT) AS checksum,
           floor(CAST(list_sum(list_transform(range(0, {_LEN}),
                i -> {_BYTE})) AS DOUBLE) / {_LEN} * 10000) / 10000
             AS mean_byte
    FROM documents
    """


@query("multimodal_decode_stats", _decode_oracle())
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_stats(_media(spark, sf_dir))


def _features_oracle() -> str:
    # exploded (doc_id, k, value): one row per stripe, flat-hashable.
    stripe = f"list_filter(range(0, {_LEN}), i -> i % {FEATURE_DIM} = t.k)"
    s = f"list_sum(list_transform({stripe}, i -> {_BYTE}))"
    term = f"floor(CAST({s} AS DOUBLE) / len({stripe}) * 10000) / 10000"
    return f"""
    SELECT doc_id, CAST(t.k AS INT) AS k, {term} AS value
    FROM documents, range(0, {FEATURE_DIM}) t(k)
    """


@query("multimodal_stripe_features", _features_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(_media(spark, sf_dir))
    return feats.select(
        "doc_id", F.posexplode("feature").alias("k", "value")
    )


def _frames_oracle() -> str:
    fb = FRAME_BYTES
    return f"""
    WITH v AS (
      SELECT doc_id, {_LEN} AS L FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id,
             UNNEST(list_filter(range(0, L // {fb}),
                    j -> j % {FRAME_STRIDE} = 0)) AS j
      FROM v
    )
    SELECT doc_id, CAST(j AS INT) AS frame_idx,
           CAST(list_sum(list_transform(range(j*{fb}, (j+1)*{fb}),
                i -> {_BYTE})) AS BIGINT) AS frame_checksum
    FROM f
    """


@query("multimodal_frame_sample", _frames_oracle())
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(_media(spark, sf_dir))


def _audio_rms_oracle() -> str:
    from ..operators.multimodal import AUDIO_WINDOW

    w = AUDIO_WINDOW
    sample = f"((CAST({_BYTE} AS DOUBLE) - 128) / 128)"
    return f"""
    SELECT doc_id, CAST(w AS INT) AS window_id,
           floor(sqrt(list_sum(list_transform(
               range(w * {w}, (w + 1) * {w}),
               i -> {sample} * {sample})) / {w}) * 10000) / 10000 AS rms
    FROM documents
    CROSS JOIN range(0, {(LEN_BASE + LEN_MOD - 1) // w + 1}) t(w)
    WHERE doc_id % 3 = 1 AND w < {_LEN} // {w}
    """


@query("multimodal_audio_window_rms", _audio_rms_oracle())
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS loudness over the audio subset: the payload bytes
    are 8-bit PCM, each 16-sample window yields its RMS energy — the
    VAD/loudness-normalization feature. Filter to audio BEFORE the
    Arrow stage (pushdown keeps the decode narrow on 1/3 of the rows);
    the oracle recomputes the identical arithmetic from the shared
    byte formula."""
    from ..operators.multimodal import audio_window_rms

    media = _media(spark, sf_dir)
    audio = media.where(F.col("meta.media_type") == "audio")
    return audio_window_rms(audio)


def _frame_deltas_oracle() -> str:
    from ..operators.multimodal import SCENE_CUT_THRESHOLD

    f = FRAME_BYTES
    max_f = (LEN_BASE + LEN_MOD - 1) // f + 1
    byte_at = lambda pos: f"CAST((doc_id*{BYTE_A} + ({pos})*{BYTE_B} + {BYTE_C}) % 256 AS DOUBLE)"  # noqa: E731
    return f"""
    WITH d AS (
      SELECT doc_id, k,
        floor(list_sum(list_transform(range(0, {f}),
          j -> abs({byte_at(f'k*{f}+j')} - {byte_at(f'(k-1)*{f}+j')})))
          / {f} * 10000) / 10000 AS delta
      FROM documents CROSS JOIN range(0, {max_f}) t(k)
      WHERE doc_id % 3 = 2 AND k >= 1 AND k < {_LEN} // {f}
    )
    SELECT doc_id, CAST(k AS INT) AS frame_idx, delta,
           delta > {SCENE_CUT_THRESHOLD} AS is_cut
    FROM d
    """


@query("multimodal_frame_deltas", _frame_deltas_oracle())
def multimodal_frame_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-frame deltas + scene-cut flags over the video subset — the
    keyframe-selection primitive (sample at cuts instead of every Nth
    frame). Filter to video BEFORE the Arrow stage; the oracle replays
    the identical per-frame arithmetic from the shared byte formula."""
    from ..operators.multimodal import frame_deltas

    media = _media(spark, sf_dir)
    video = media.where(F.col("meta.media_type") == "video")
    return frame_deltas(video)


def _wav_oracle() -> str:
    # the decoded PCM plane IS the deterministic sample model, so the
    # oracle recomputes stats from the arithmetic — but the Spark path
    # only matches if the stdlib wave container was genuinely parsed
    # (a passthrough would add the 44-byte header into the checksum
    # and report the container length as the sample count)
    return f"""
    SELECT doc_id,
           CAST({_LEN} AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, {_LEN}),
                i -> {_BYTE})) AS BIGINT) AS checksum,
           floor(CAST(list_sum(list_transform(range(0, {_LEN}),
                i -> {_BYTE})) AS DOUBLE) / {_LEN} * 10000) / 10000
             AS mean_sample
    FROM documents
    """


@query("multimodal_wav_decode", _wav_oracle())
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path (round 4): encode each row's deterministic
    samples into a genuine RIFF/WAVE container (stdlib ``wave``
    writer), decode through ``decode_media(decoder=real_decoder)`` —
    which must parse the header and strip it to recover the PCM plane
    — and emit per-item stats over the DECODED samples. Three chained
    narrow Arrow stages, no shuffle."""
    wav = attach_wav(load_table(spark, sf_dir, "documents"))
    dec = decode_media(wav, decoder=real_decoder)
    return pcm_stats(dec)


def _bmp_oracle() -> str:
    # the decoded plane is the byte model's first (L//8)*8 bytes —
    # but the Spark path only matches if the BMP container was
    # genuinely parsed: a passthrough would include the 1078
    # header/palette bytes, and a padding or row-order mistake would
    # shift the checksum
    n = f"(({_LEN} // 8) * 8)"
    return f"""
    SELECT doc_id,
           CAST({n} AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS BIGINT) AS checksum,
           floor(CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS DOUBLE) / {n} * 10000) / 10000
             AS mean_sample
    FROM documents
    """


@query("multimodal_bmp_decode", _bmp_oracle())
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path (round 5): encode each row's deterministic
    plane into a genuine BMP (headers + palette + bottom-up padded
    rows), decode through ``decode_media(decoder=real_decoder)`` —
    which must parse the container, strip padding, un-flip the rows
    and resolve palette indices — and emit stats over the DECODED
    plane. Three chained narrow Arrow stages, no shuffle."""
    from ..operators.multimodal import attach_bmp

    bmp = attach_bmp(load_table(spark, sf_dir, "documents"))
    dec = decode_media(bmp, decoder=real_decoder)
    return pcm_stats(dec)


def _y4m_oracle() -> str:
    # the decoded planes are the byte model's first (L//64)*64 bytes
    # (whole 8x8 frames) — but the Spark path only matches if the
    # YUV4MPEG2 stream was genuinely walked: a passthrough would
    # include the textual stream header and the per-frame FRAME
    # markers in the checksum
    n = f"((({_LEN}) // 64) * 64)"
    return f"""
    SELECT doc_id,
           CAST({n} AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS BIGINT) AS checksum,
           floor(CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS DOUBLE) / {n} * 10000) / 10000
             AS mean_sample
    FROM documents
    """


@query("multimodal_y4m_decode", _y4m_oracle())
def multimodal_y4m_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec path (round 5): encode each row's deterministic
    8x8 mono frames into a genuine YUV4MPEG2 stream (header tag list +
    FRAME markers), decode through ``decode_media(decoder=
    real_decoder)`` — which must walk the container to recover the
    concatenated frame planes — and emit stats over the DECODED bytes.
    Three chained narrow Arrow stages, no shuffle."""
    from ..operators.multimodal import attach_y4m

    y4m = attach_y4m(load_table(spark, sf_dir, "documents"))
    dec = decode_media(y4m, decoder=real_decoder)
    return pcm_stats(dec)


def _png_oracle() -> str:
    # the decoded plane is the byte model's first (L//8)*8 bytes —
    # identical target to BMP, but the Spark path only reaches it by
    # inflating the zlib IDAT stream and defiltering all five PNG
    # filter types (the encoder cycles them per row); any filter or
    # inflate mistake shifts the checksum
    n = f"(({_LEN} // 8) * 8)"
    return f"""
    SELECT doc_id,
           CAST({n} AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS BIGINT) AS checksum,
           floor(CAST(list_sum(list_transform(range(0, {n}),
                i -> {_BYTE})) AS DOUBLE) / {n} * 10000) / 10000
             AS mean_sample
    FROM documents
    """


@query("multimodal_png_decode", _png_oracle())
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image codec path (round 11): encode each row's
    deterministic plane into a genuine PNG (zlib scanlines, filter
    types cycling per row, chunk CRCs), decode through
    ``decode_media(decoder=real_decoder)`` — which must verify CRCs,
    inflate and DEFILTER to recover the plane — and emit stats over
    the decoded bytes. First compressed container in the family
    (WAV/BMP/Y4M are uncompressed layouts). Three chained narrow
    Arrow stages, no shuffle."""
    from ..operators.multimodal import attach_png

    png = attach_png(load_table(spark, sf_dir, "documents"))
    dec = decode_media(png, decoder=real_decoder)
    return pcm_stats(dec)
