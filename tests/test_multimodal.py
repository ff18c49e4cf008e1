"""Multimodal plumbing: Arrow-batched decode stage over binary
payloads (stubbed decoder), stub gating."""

from __future__ import annotations

import hashlib

import pytest

from vbb_data_pipeline_spark.operators.multimodal import (
    attach_payload,
    decode_images,
    frame_sample,
    resize_images,
)
from vbb_data_pipeline_spark.queries import load_table

SF = "/root/testdata/sf0.001"


def test_decode_images_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    decoded = decode_images(attach_payload(docs))
    rows = decoded.collect()
    assert len(rows) == 50
    by_id = {r.doc_id: r for r in rows}
    src = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, r in by_id.items():
        raw = src[doc_id].encode()
        assert r.n_bytes == len(raw)
        assert r.content_digest == hashlib.sha256(raw).hexdigest()
        assert 16 <= r.width < 256 and 16 <= r.height < 256
        assert 1 <= r.channels <= 4


def test_decode_is_deterministic(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    a = sorted(decode_images(attach_payload(docs)).collect())
    b = sorted(decode_images(attach_payload(docs)).collect())
    assert a == b


def _ppm(w, h, pixel=(10, 20, 30)):
    body = bytes(pixel) * (w * h)
    return b"P6\n%d %d\n255\n" % (w, h) + body


def _y4m(w, h, n_frames):
    frame_size = w * h * 3 // 2
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1\x0a" % (w, h)
    for i in range(n_frames):
        out += b"FRAME\x0a" + bytes([i % 251]) * frame_size
    return out


def test_resize_images_real_ppm(spark):
    rows = [(1, _ppm(8, 6)), (2, b"not an image"), (3, _ppm(4, 4, (99, 0, 7)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in resize_images(df, 3, 2).collect()}
    assert got[1].status == "resized" and (got[1].width, got[1].height) == (3, 2)
    from vbb_data_pipeline_spark.operators.multimodal import _parse_ppm

    w, h, rgb = _parse_ppm(bytes(got[1].payload))
    assert (w, h) == (3, 2) and rgb == bytes((10, 20, 30)) * 6
    assert got[2].status == "unsupported" and bytes(got[2].payload) == b"not an image"
    _, _, rgb3 = _parse_ppm(bytes(got[3].payload))
    assert rgb3 == bytes((99, 0, 7)) * 6


def test_frame_sample_real_y4m(spark):
    rows = [(1, _y4m(4, 4, 7)), (2, b"not a video")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = frame_sample(df, every_n=3).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 3, 6]
    f0 = next(r for r in by_doc[1] if r.frame_idx == 3)
    assert (f0.width, f0.height) == (4, 4)
    assert bytes(f0.frame) == bytes([3]) * (4 * 4 * 3 // 2)
    assert 2 not in by_doc  # unsupported container: zero rows, no failure


# ---------------------------------------------------------------------------
# Real header parsing (PNG / GIF / JPEG) — pure-stdlib fixtures
# ---------------------------------------------------------------------------
import struct

from vbb_data_pipeline_spark.operators.multimodal import parse_image_header


def _png(w, h, color_type=6):
    ihdr_data = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr_data + b"\x00\x00\x00\x00"
    )


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg(w, h, ncomp=3, leading_segments=True):
    out = b"\xff\xd8"
    if leading_segments:  # APP0 (JFIF) segment before the SOF, as real
        app0 = b"JFIF\x00\x01\x01\x00\x00H\x00H\x00\x00"
        out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    return out


def test_parse_png_header():
    assert parse_image_header(_png(640, 480)) == (640, 480, 4)
    assert parse_image_header(_png(1, 1, color_type=0)) == (1, 1, 1)
    assert parse_image_header(_png(70000, 2, color_type=2)) == (70000, 2, 3)


def test_parse_gif_header():
    assert parse_image_header(_gif(320, 200)) == (320, 200, 3)
    assert parse_image_header(b"GIF87a" + struct.pack("<HH", 12, 34)) == (12, 34, 3)


def test_parse_jpeg_walks_segments():
    assert parse_image_header(_jpeg(1024, 768)) == (1024, 768, 3)
    assert parse_image_header(_jpeg(99, 7, ncomp=1, leading_segments=False)) == (99, 7, 1)


def test_parse_progressive_jpeg_sof2():
    payload = _jpeg(50, 60)
    # rewrite the SOF0 marker to SOF2 (progressive) — still a dims SOF
    assert parse_image_header(payload.replace(b"\xff\xc0", b"\xff\xc2")) == (50, 60, 3)


def test_parse_unknown_returns_none():
    assert parse_image_header(b"plain text payload") is None
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\xff\xd8\x00garbage") is None


# ---------------------------------------------------------------------------
# §2.10 scalar pandas_udf surface — parity with the native dot product
# ---------------------------------------------------------------------------
def test_cosine_pandas_udf_matches_native(spark):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.udfs import cosine_udf
    from vbb_data_pipeline_spark.operators.similarity import cosine

    e = load_table(spark, SF, "embeddings").limit(40)
    pairs = (
        e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .join(
            e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")),
            F.col("ia") == (F.col("ib") + 1) % 40,
        )
    )
    got = pairs.select(
        "ia",
        F.round(cosine_udf("va", "vb"), 6).alias("u"),
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("n"),
    ).collect()
    assert len(got) > 0
    for r in got:
        assert abs(r.u - r.n) < 1e-9, (r.ia, r.u, r.n)


# ---------------------------------------------------------------------------
# Review-fix regressions: totality and format edge cases
# ---------------------------------------------------------------------------
def test_resize_malformed_ppm_is_unsupported_not_fatal(spark):
    rows = [(1, b"P6"), (2, b"P6 abc def 255 xx"), (3, b"P6\n4 4\n255\n")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.status for r in resize_images(df, 2, 2).collect()}
    # truncated header / non-numeric dims / missing pixel data must all
    # pass through, never raise inside the stage
    assert got == {1: "unsupported", 2: "unsupported", 3: "unsupported"}


def test_parse_jpeg_with_fill_bytes():
    payload = b"\xff\xd8" + b"\xff\xff\xff" + _jpeg(33, 44)[2:]
    assert parse_image_header(payload) == (33, 44, 3)


def test_y4m_colorspaces():
    from vbb_data_pipeline_spark.operators.multimodal import _iter_y4m_frames

    def y4m(cspace, bytes_per_frame, n=2, w=4, h=4):
        out = b"YUV4MPEG2 W%d H%d F25:1 %s\x0a" % (w, h, cspace)
        for i in range(n):
            out += b"FRAME\x0a" + bytes([i]) * bytes_per_frame
        return out

    # C444 = 3 bytes/px, Cmono = 1 byte/px — frames slice correctly
    f444 = list(_iter_y4m_frames(y4m(b"C444", 4 * 4 * 3)))
    assert [i for i, *_ in f444] == [0, 1]
    assert len(f444[1][3]) == 48 and f444[1][3] == bytes([1]) * 48
    fmono = list(_iter_y4m_frames(y4m(b"Cmono", 4 * 4)))
    assert len(fmono) == 2 and len(fmono[0][3]) == 16
    # unknown colorspace: zero frames, never corrupt slicing
    assert list(_iter_y4m_frames(y4m(b"C999weird", 24))) == []
    assert list(_iter_y4m_frames(y4m(b"C444alpha", 64))) == []


def test_cosine_udf_null_safe(spark):
    from pyspark.sql import functions as F

    from vbb_data_pipeline_spark.functions.udfs import cosine_udf

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, None, [1.0, 0.0]), (3, [0.0, 1.0], None)],
        "id long, a array<double>, b array<double>",
    )
    got = {r.id: r.c for r in df.select("id", cosine_udf("a", "b").alias("c")).collect()}
    assert abs(got[1] - 1.0) < 1e-9
    assert got[2] is None and got[3] is None


# --------------------------------------------------------------------------
# Audio: real WAV/PCM decode + features
# --------------------------------------------------------------------------
def _make_wav(rate=8000, channels=1, sampwidth=2, seconds=0.1, freq=440.0):
    import io
    import math
    import wave

    n = int(rate * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = math.sin(2 * math.pi * freq * i / rate)
            if sampwidth == 1:
                frames += bytes([int(128 + 127 * v)] * channels)
            else:
                s = int(32767 * v).to_bytes(2, "little", signed=True)
                frames += s * channels
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_audio_features_real_wav(spark):
    import math

    from vbb_data_pipeline_spark.operators.multimodal import audio_features

    wav = _make_wav()
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = audio_features(df).collect()[0]
    assert row.status == "ok"
    assert row.sample_rate == 8000 and row.channels == 1 and row.bits == 16
    assert row.n_samples == 800
    assert abs(row.duration_ms - 100.0) < 1e-9
    # a full-scale sine has rms ~ 1/sqrt(2) and peak ~ 1
    assert abs(row.rms - 1 / math.sqrt(2)) < 0.01
    assert 0.98 <= row.peak <= 1.0
    # 440 Hz at 8 kHz crosses zero ~880 times/s -> zcr ~ 0.11
    assert 0.09 <= row.zero_crossing_rate <= 0.13


def test_audio_features_stereo_8bit_and_unsupported(spark):
    from vbb_data_pipeline_spark.operators.multimodal import audio_features

    stereo = _make_wav(channels=2, sampwidth=1)
    rows = spark.createDataFrame(
        [(1, bytearray(stereo)), (2, bytearray(b"\x00\x01not audio"))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in audio_features(rows).collect()}
    assert out[1].status == "ok"
    assert out[1].channels == 2 and out[1].bits == 8
    assert out[1].rms is not None
    assert out[2].status == "unsupported"
    assert out[2].sample_rate is None


def test_audio_stage_is_single_python_pass(spark):
    from vbb_data_pipeline_spark.operators.multimodal import audio_features

    df = spark.createDataFrame(
        [(1, bytearray(_make_wav()))], "doc_id long, payload binary"
    )
    plan = audio_features(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
