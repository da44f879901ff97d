"""Multimodal plumbing tests not covered by the oracle gate:
attach schema + payload bytes, the real-decode stub seam,
and frame fan-out shape."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.multimodal import attach_media

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    return attach_media(docs).cache()


def test_attach_schema_and_payload(media):
    from baseline_magician_spark.operators.multimodal import (
        LEN_BASE,
        LEN_MOD,
        _payload_bytes,
    )

    row = media.where("doc_id = 7").first()
    assert row.meta.byte_len == LEN_BASE + 7 % LEN_MOD
    assert isinstance(row.payload, bytearray | bytes)
    assert bytes(row.payload) == _payload_bytes(7)
    assert row.meta.media_type == "audio"  # 7 % 3 == 1


def test_decode_real_rejects_unknown_container(media):
    """Unknown container magic raises the codec's ordinary
    unsupported-format error (WAV and BMP decode natively; anything
    else needs PIL or a user decoder)."""
    from baseline_magician_spark.operators.multimodal import real_decoder

    with pytest.raises(ValueError, match="unsupported container"):
        real_decoder(b"\x00\x01", {"media_type": "image"})


def test_decode_media_default_synthetic(media):
    from baseline_magician_spark.operators.multimodal import decode_media

    out = decode_media(media)
    assert out.columns == [
        "doc_id", "media_type", "width", "height", "n_frames", "pixels",
    ]
    row = out.where("doc_id = 7").first()
    src = media.where("doc_id = 7").first()
    assert bytes(row.pixels) == bytes(src.payload)
    assert (row.width, row.height) == (src.meta.width, src.meta.height)
    assert out.count() == media.count()


def test_decode_media_custom_decoder_plugs_in(media):
    """The extension seam: a user callable replaces the codec and its
    partial dict overlays the metadata defaults."""
    from baseline_magician_spark.operators.multimodal import decode_media

    def halve(payload: bytes, meta: dict) -> dict:
        return {"pixels": payload[: len(payload) // 2], "width": 2}

    out = decode_media(media, decoder=halve).where("doc_id = 7").first()
    src = media.where("doc_id = 7").first()
    assert len(out.pixels) == len(src.payload) // 2
    assert out.width == 2
    assert out.height == src.meta.height  # metadata fallback


def test_frame_fanout_only_videos(media):
    from baseline_magician_spark.operators.multimodal import sample_frames

    frames = sample_frames(media)
    rows = frames.collect()
    assert rows, "expected at least one sampled frame"
    video_ids = {
        r.doc_id for r in media.where("meta.media_type = 'video'").collect()
    }
    assert {r.doc_id for r in rows} <= video_ids
    assert all(r.frame_idx % 4 == 0 for r in rows)


# ---------------------------------------------------------------- #
# real WAV codec (round 4): genuine RIFF/WAVE containers, stdlib    #
# wave decode through the decode_media seam                         #
# ---------------------------------------------------------------- #


def test_wav_encode_is_spec_compliant():
    """The encoder emits a real RIFF/WAVE container any standard
    reader parses — header magic, 44-byte PCM header, field values."""
    import io
    import wave

    from baseline_magician_spark.operators.multimodal import (
        WAV_HEADER_BYTES,
        WAV_SAMPLE_RATE,
        wav_encode,
    )

    samples = bytes(range(200))
    blob = wav_encode(samples)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert len(blob) == WAV_HEADER_BYTES + len(samples)
    with wave.open(io.BytesIO(blob), "rb") as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 1
        assert w.getframerate() == WAV_SAMPLE_RATE
        assert w.getnframes() == len(samples)
        assert w.readframes(len(samples)) == samples


def test_wav_decoder_roundtrip_and_dispatch():
    from baseline_magician_spark.operators.multimodal import (
        real_decoder,
        wav_decoder,
        wav_encode,
    )

    samples = bytes((7 * i + 3) % 256 for i in range(150))
    blob = wav_encode(samples)
    d = wav_decoder(blob, {})
    assert d["pixels"] == samples
    assert d["width"] == 150 and d["height"] == 1
    # real_decoder dispatches WAV natively (no external library)
    d2 = real_decoder(blob, {})
    assert d2["pixels"] == samples
    # non-WAV bytes hit the documented missing-library boundary
    with pytest.raises((NotImplementedError, Exception)):
        real_decoder(b"\x89PNG\r\n\x1a\n" + bytes(64), {})


def test_wav_decode_end_to_end(spark):
    """attach_wav -> decode_media(real_decoder) -> pcm_stats recovers
    the deterministic sample model exactly — proving the container
    header is parsed and stripped, not passed through."""
    from baseline_magician_spark.operators.multimodal import (
        LEN_BASE,
        LEN_MOD,
        WAV_HEADER_BYTES,
        _payload_bytes,
        attach_wav,
        decode_media,
        pcm_stats,
        real_decoder,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    wav = attach_wav(docs)
    row = wav.where("doc_id = 7").first()
    n7 = LEN_BASE + 7 % LEN_MOD
    assert row.meta.byte_len == WAV_HEADER_BYTES + n7  # real container
    out = {
        r.doc_id: r
        for r in pcm_stats(decode_media(wav, decoder=real_decoder)).collect()
    }
    assert len(out) == 20
    for d in (0, 7, 19):
        expected = _payload_bytes(d)
        assert out[d].n_samples == len(expected)
        assert out[d].checksum == sum(expected)


def test_wav_pipeline_is_narrow(spark):
    """Three chained Arrow stages, zero shuffle: the physical plan has
    no Exchange."""
    from baseline_magician_spark.operators.multimodal import (
        attach_wav,
        decode_media,
        pcm_stats,
        real_decoder,
    )

    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    df = pcm_stats(decode_media(attach_wav(docs), decoder=real_decoder))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------- #
# BMP decode through the decode_media seam (round 5)                #
# ---------------------------------------------------------------- #


def test_bmp_encode_is_spec_compliant():
    """The encoder emits a real Windows BMP — magic, header fields,
    palette size, bottom-up padded rows — parseable by struct alone."""
    import struct

    from baseline_magician_spark.operators.multimodal import (
        BMP_HEADER_BYTES,
        bmp_encode,
    )

    w, h = 5, 3  # width NOT a multiple of 4: stride padding exercised
    pixels = bytes(range(w * h))
    blob = bmp_encode(pixels, w, h)
    assert blob[:2] == b"BM"
    size, _, _, offset = struct.unpack("<IHHI", blob[2:14])
    stride = (w + 3) & ~3
    assert offset == BMP_HEADER_BYTES
    assert size == len(blob) == offset + stride * h
    (hdr, bw, bh, planes, bpp, comp) = struct.unpack(
        "<IiiHHI", blob[14:34]
    )
    assert (hdr, bw, bh, planes, bpp, comp) == (40, w, h, 1, 8, 0)
    # bottom-up: the LAST stored row is the FIRST pixel row
    last_row = blob[offset + (h - 1) * stride : offset + (h - 1) * stride + w]
    assert last_row == pixels[:w]
    with pytest.raises(ValueError, match="pixel plane"):
        bmp_encode(pixels, w, h + 1)


def test_bmp_decoder_roundtrip_and_dispatch():
    from baseline_magician_spark.operators.multimodal import (
        bmp_decoder,
        bmp_encode,
        real_decoder,
    )

    w, h = 7, 5
    pixels = bytes((11 * i + 5) % 256 for i in range(w * h))
    blob = bmp_encode(pixels, w, h)
    d = bmp_decoder(blob, {})
    assert d["pixels"] == pixels  # padding stripped, rows un-flipped
    assert d["width"] == w and d["height"] == h
    d2 = real_decoder(blob, {})  # magic dispatch
    assert d2["pixels"] == pixels
    with pytest.raises(ValueError, match="missing BM magic"):
        bmp_decoder(b"\x00" * 64, {})


def test_bmp_decoder_top_down_and_24bit():
    """Decoder robustness beyond what the encoder emits: negative
    height (top-down row order) and 24-bit uncompressed pixels."""
    import struct

    from baseline_magician_spark.operators.multimodal import (
        bmp_decoder,
        bmp_encode,
    )

    w, h = 5, 2
    pixels = bytes(range(w * h))
    blob = bytearray(bmp_encode(pixels, w, h))
    # flip the height sign and re-order rows to top-down
    blob[22:26] = struct.pack("<i", -h)
    offset = struct.unpack("<I", blob[10:14])[0]
    stride = (w + 3) & ~3
    rows = [
        bytes(blob[offset + r * stride : offset + (r + 1) * stride])
        for r in range(h)
    ]
    blob[offset:] = b"".join(reversed(rows))
    d = bmp_decoder(bytes(blob), {})
    assert d["pixels"] == pixels

    # hand-built 24-bit BMP: 2x1, pixels BGR (1,2,3) and (4,5,6)
    w24, h24 = 2, 1
    stride24 = (w24 * 3 + 3) & ~3
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + stride24, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w24, h24, 1, 24, 0, stride24, 0, 0, 0, 0
    )
    row = bytes([1, 2, 3, 4, 5, 6]) + b"\x00" * (stride24 - 6)
    d24 = bmp_decoder(file_hdr + info + row, {})
    assert d24["pixels"] == bytes([1, 2, 3, 4, 5, 6])
    assert d24["width"] == 2 and d24["height"] == 1


def test_bmp_decode_end_to_end(spark):
    """attach_bmp -> decode_media(real_decoder) -> pcm_stats recovers
    the deterministic plane exactly — proving headers/palette were
    stripped, padding removed, and the bottom-up order undone."""
    from baseline_magician_spark.operators.multimodal import (
        BMP_HEADER_BYTES,
        LEN_BASE,
        LEN_MOD,
        _payload_bytes,
        attach_bmp,
        decode_media,
        pcm_stats,
        real_decoder,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    bmp = attach_bmp(docs)
    row = bmp.where("doc_id = 7").first()
    n7 = LEN_BASE + 7 % LEN_MOD
    w7 = n7 // 8
    stride7 = (w7 + 3) & ~3
    assert row.meta.byte_len == BMP_HEADER_BYTES + stride7 * 8
    out = {
        r.doc_id: r
        for r in pcm_stats(decode_media(bmp, decoder=real_decoder)).collect()
    }
    assert len(out) == 20
    for d in (0, 7, 19):
        n = LEN_BASE + d % LEN_MOD
        plane = _payload_bytes(d)[: (n // 8) * 8]
        assert out[d].n_samples == len(plane)
        assert out[d].checksum == sum(plane)


def test_bmp_pipeline_is_narrow(spark):
    from baseline_magician_spark.operators.multimodal import (
        attach_bmp,
        decode_media,
        pcm_stats,
        real_decoder,
    )

    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    df = pcm_stats(decode_media(attach_bmp(docs), decoder=real_decoder))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_y4m_encode_is_spec_compliant():
    from baseline_magician_spark.operators.multimodal import y4m_encode

    frames = bytes(range(128))  # two 8x8 mono frames
    blob = y4m_encode(frames, 8, 8)
    head, rest = blob.split(b"\n", 1)
    assert head.startswith(b"YUV4MPEG2 ")
    tags = head.split()[1:]
    assert b"W8" in tags and b"H8" in tags and b"Cmono" in tags
    # exactly two FRAME sections carrying the raw planes
    assert rest == b"FRAME\n" + frames[:64] + b"FRAME\n" + frames[64:]
    with pytest.raises(ValueError, match="not a multiple"):
        y4m_encode(frames[:100], 8, 8)


def test_y4m_decoder_roundtrip_and_dispatch():
    from baseline_magician_spark.operators.multimodal import (
        real_decoder,
        y4m_decoder,
        y4m_encode,
    )

    frames = bytes((13 * i + 7) % 256 for i in range(192))
    blob = y4m_encode(frames, 8, 8)
    d = y4m_decoder(blob, {})
    assert d["pixels"] == frames  # headers and FRAME markers stripped
    assert (d["width"], d["height"], d["n_frames"]) == (8, 8, 3)
    d2 = real_decoder(blob, {})  # magic dispatch
    assert d2["pixels"] == frames
    with pytest.raises(ValueError, match="missing magic"):
        y4m_decoder(b"\x00" * 64, {})


def test_y4m_decoder_foreign_streams():
    """Decoder robustness beyond what the encoder emits: C420 plane
    sizing, per-frame parameters, interlace/aspect tags, truncation
    and unsupported colorspaces."""
    from baseline_magician_spark.operators.multimodal import y4m_decoder

    plane = bytes(range(6)) * 1  # 2x2 C420: 4 luma + 2 chroma bytes
    blob = b"YUV4MPEG2 W2 H2 F30000:1001 Ip A1:1 C420jpeg Xfoo\n"
    blob += b"FRAME Ix\n" + plane
    d = y4m_decoder(blob, {})
    assert d["pixels"] == plane and d["n_frames"] == 1
    with pytest.raises(ValueError, match="truncated"):
        y4m_decoder(blob[:-2], {})
    with pytest.raises(ValueError, match="unsupported YUV4MPEG2"):
        y4m_decoder(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + bytes(12), {})
    with pytest.raises(ValueError, match="lacks W/H"):
        y4m_decoder(b"YUV4MPEG2 F25:1\n", {})
