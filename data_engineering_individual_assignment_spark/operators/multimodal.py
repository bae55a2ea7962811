"""Multimodal column operators (SURVEY §2.11): opaque binary payloads
with typed metadata, decoded/sampled by Arrow-batched Python.

This container ships no imaging/video libraries; modalities are
handled three ways, as the build contract requires:

- AUDIO is decoded for REAL: ``decode_wav_features`` parses RIFF/WAV
  PCM with the stdlib ``wave`` codec and extracts numpy DSP features
  (RMS / zero-crossing rate / dominant FFT frequency), pinned against
  analytic ground truth in tests.
- PNG IMAGES are decoded for REAL too: PNG is DEFLATE + per-scanline
  byte filters, both in the standard library — ``decode_png`` walks
  CRC-verified chunks, inflates with zlib and undoes all five filter
  types (pinned against an independent forward-filter implementation
  + analytic solid/gradient truth in tests).
- Baseline JPEG is decoded for REAL as well: ``decode_jpeg`` walks
  markers, reads the quant/huffman tables FROM THE STREAM, huffman-
  decodes, dequantizes, runs the 8x8 IDCT, handles restart markers
  and 1x1/2x2 sampling with nearest chroma upsampling — pinned
  against an independent forward implementation (``synth_jpeg_bytes``
  / ``encode_jpeg_planes``: RGB->YCbCr, forward DCT, Annex-K
  quantization) plus analytic solid/gradient truth in tests.
- Video codecs (H.264 etc.) remain the clearly-marked ``decode_image``
  NotImplementedError seam where ffmpeg plugs in; the ``*_fake``
  paths keep that plumbing (binary schema, Arrow batch iteration,
  1:N fan-out, partitioning) real and testable, with a DuckDB oracle
  over the stand-in arithmetic.

At 100 TB: payloads stay columnar-binary end to end (no base64, no
driver round-trip); frame sampling is a mapInPandas fan-out whose
output is re-partitionable by (doc_id) for downstream per-asset work.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decode_image(payload: bytes) -> dict:
    """General image decode: dispatch on container signature to the
    REAL pure-stdlib codecs (``decode_png``, ``decode_jpeg``); other
    formats (WebP/AVIF/...) remain the seam where Pillow plugs in:
        img = PIL.Image.open(io.BytesIO(payload))
        return {"width": img.width, "height": img.height, ...}
    """
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise NotImplementedError(
        "non-PNG/JPEG image decoding requires an imaging library not "
        "present in this container; PNG and baseline JPEG decode for "
        "real, and the *_fake paths cover plumbing tests"
    )


def sample_frames_fake(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_size: int = 128,
    max_frames: int = 4,
    unit: str = "bytes",
) -> DataFrame:
    """'Video' frame sampling with a deterministic fake decoder: emit one
    row per frame_size-sized window (capped at max_frames), fingerprinted
    with md5.  Demonstrates the 1:N mapInPandas fan-out a real
    frame-sampler uses; swap the md5 for a codec call at the
    ``decode_image`` seam.

    ``unit='bytes'`` windows raw bytes (the real multimodal case);
    ``unit='chars'`` decodes the payload as UTF-8 and windows CHARACTERS
    (md5 of each slice's UTF-8 bytes) — the mode whose arithmetic a
    SQL oracle can replicate (md5/substr over VARCHAR), since engines'
    blob functions diverge on non-ASCII."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests, sizes = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                if unit == "chars":
                    data = data.decode("utf-8")
                n_frames = min(max_frames, max(1, -(-len(data) // frame_size)))
                for i in range(n_frames):
                    chunk = data[i * frame_size : (i + 1) * frame_size]
                    raw = chunk.encode("utf-8") if unit == "chars" else chunk
                    ids.append(doc_id)
                    idxs.append(i)
                    digests.append(hashlib.md5(raw).hexdigest())
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": digests,
                    "frame_len": pd.Series(sizes, dtype="int32"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema="doc_id bigint, frame_idx int, frame_md5 string, frame_len int"
    )


# ---------------------------------------------------------------------------
# REAL audio: RIFF/WAV PCM decode via the stdlib wave module (no external
# codec needed) — this is the one modality the container CAN decode for
# real, so the image/video NotImplementedError seam gets a working
# reference implementation of the same contract.
# ---------------------------------------------------------------------------
def synth_wav_bytes(
    freq_hz: float, duration_s: float = 0.1, sample_rate: int = 8000,
    amplitude: float = 0.5,
) -> bytes:
    """Deterministic 16-bit mono PCM WAV: a pure sine at ``freq_hz``.
    Real RIFF container bytes (header + data chunk), byte-identical for
    identical args — usable as a reproducible payload fixture."""
    import io
    import wave

    import numpy as np

    n = int(duration_s * sample_rate)
    t = np.arange(n, dtype=np.float64) / sample_rate
    samples = (amplitude * np.sin(2 * np.pi * freq_hz * t) * 32767.0).astype(
        "<i2"
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL audio decode + feature extraction over a binary WAV column:
    parse the RIFF container (stdlib ``wave``), then numpy-vectorized
    features per asset — duration, RMS level, zero-crossing rate, and
    the dominant frequency via rFFT peak.

    The decode runs inside mapInPandas: payload bytes arrive as Arrow
    binary batches, never leave the executor, and the output is a slim
    typed feature row per asset — the exact shape the fake decoders
    stub, now with a real codec behind it.  Corrupt payloads yield a
    null feature row instead of failing the task (one bad asset must
    not kill a 100 TB pass)."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "duration_s": [], "rms": [], "zero_cross_rate": [],
                "dominant_freq_hz": [], "decode_ok": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(doc_id)
                try:
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                        sr = w.getframerate()
                        n = w.getnframes()
                        raw = w.readframes(n)
                        if w.getsampwidth() != 2 or w.getnchannels() != 1:
                            raise ValueError("only 16-bit mono supported")
                    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                    x /= 32767.0
                    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                    zcr = (
                        float(np.mean(np.abs(np.diff(np.signbit(x))))) if n > 1 else 0.0
                    )
                    spec = np.abs(np.fft.rfft(x)) if n else np.array([0.0])
                    dom = float(np.argmax(spec) * sr / n) if n else 0.0
                    out["sample_rate"].append(sr)
                    out["n_samples"].append(n)
                    out["duration_s"].append(round(n / sr, 6))
                    out["rms"].append(round(rms, 6))
                    out["zero_cross_rate"].append(round(zcr, 6))
                    out["dominant_freq_hz"].append(round(dom, 2))
                    out["decode_ok"].append(True)
                except Exception:
                    out["sample_rate"].append(None)
                    out["n_samples"].append(None)
                    out["duration_s"].append(None)
                    out["rms"].append(None)
                    out["zero_cross_rate"].append(None)
                    out["dominant_freq_hz"].append(None)
                    out["decode_ok"].append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="Int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="Int64"),
                    "duration_s": pd.Series(out["duration_s"], dtype="float64"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                    "zero_cross_rate": pd.Series(
                        out["zero_cross_rate"], dtype="float64"
                    ),
                    "dominant_freq_hz": pd.Series(
                        out["dominant_freq_hz"], dtype="float64"
                    ),
                    "decode_ok": pd.Series(out["decode_ok"], dtype="boolean"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen,
        schema=(
            "doc_id bigint, sample_rate int, n_samples bigint, "
            "duration_s double, rms double, zero_cross_rate double, "
            "dominant_freq_hz double, decode_ok boolean"
        ),
    )


# ---------------------------------------------------------------------------
# REAL image decode: PNG via stdlib zlib + struct (no Pillow needed).
# PNG is DEFLATE + per-scanline byte filters — both fully decodable with
# the standard library, so the image seam gets a working codec the same
# way audio did.  JPEG (DCT/huffman) and video stay behind the
# NotImplementedError seam.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def synth_png_bytes(width: int, height: int, rgb=(128, 64, 32),
                    gradient: bool = False) -> bytes:
    """Deterministic 8-bit RGB PNG: solid ``rgb`` color, or a horizontal
    gradient r = column * 255 // (width-1) when ``gradient``.  Real PNG
    container (signature + IHDR/IDAT/IEND chunks, CRCs, zlib stream,
    filter-0 scanlines) — byte-identical for identical args."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    rows = bytearray()
    for _y in range(height):
        rows.append(0)  # filter type 0 (None)
        for x in range(width):
            if gradient:
                g = x * 255 // max(width - 1, 1)
                rows += bytes((g, g, g))
            else:
                rows += bytes(rgb)
    idat = zlib.compress(bytes(rows), 6)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def encode_png_gray(gray) -> bytes:
    """8-bit GRAYSCALE PNG (color type 0, filter-0 scanlines) from any
    (h, w) array (values rounded then clipped to [0, 255]) — the
    general-content encoder twin of ``synth_png_bytes`` (which emits
    solid/gradient RGB only).  Real container: signature, CRC'd
    IHDR/IDAT/IEND, zlib stream; byte-identical for identical input."""
    import struct
    import zlib

    import numpy as np

    px = np.clip(np.rint(np.asarray(gray, dtype=np.float64)), 0, 255).astype(
        np.uint8
    )
    height, width = px.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    rows = bytearray()
    for y in range(height):
        rows.append(0)  # filter type 0 (None)
        rows += px[y].tobytes()
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows), 6))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int):
    """Undo PNG scanline filters (types 0-4) -> (height, width*bpp)
    uint8 array.  Sequential per the spec: Sub/Average/Paeth reference
    the reconstructed left/up/up-left bytes (0 outside the image)."""
    import numpy as np

    stride = width * bpp
    out = np.zeros((height, stride), dtype=np.uint16)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).astype(np.uint16)
        pos += stride
        prior = out[y - 1] if y else np.zeros(stride, dtype=np.uint16)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up — vectorizable
            rec = (line + prior) & 0xFF
        else:  # Sub / Average / Paeth need the reconstructed left byte
            rec = np.zeros(stride, dtype=np.uint16)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prior[i]
                if ftype == 1:
                    rec[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    rec[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                elif ftype == 4:
                    c = prior[i - bpp] if i >= bpp else 0
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (line[i] + pr) & 0xFF
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> dict:
    """REAL PNG decode: signature + chunk walk (CRC-verified), zlib
    inflate, scanline unfilter.  Supports 8-bit depth, color types
    0/2/6 (gray/RGB/RGBA), non-interlaced — the shapes a data pipeline
    synthesizes and stores.  Returns {width, height, channels, pixels
    (h, w*c uint8 array)}; raises on anything malformed."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in _PNG_CHANNELS or interlace or comp or filt:
        raise ValueError(
            f"unsupported PNG shape: depth={depth} ctype={ctype} "
            f"interlace={interlace}"
        )
    channels = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(bytes(idat))
    expected = height * (1 + width * channels)
    if len(raw) != expected:
        raise ValueError("PNG pixel payload truncated")
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "pixels": _png_unfilter(raw, width, height, channels),
    }


def decode_png_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL image decode + stats over a binary PNG column, the visual
    twin of decode_wav_features: per asset — dimensions, channel
    count, per-channel means and mean luma (Rec.601).  Runs in
    mapInPandas (Arrow binary batches, bytes never leave the
    executor); corrupt payloads degrade to decode_ok=false rows."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "channels": [],
                "mean_r": [], "mean_g": [], "mean_b": [], "mean_luma": [],
                "decode_ok": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(doc_id)
                try:
                    img = decode_png(bytes(payload))
                    px = img["pixels"].astype(np.float64)
                    c = img["channels"]
                    planes = [px[:, i::c] for i in range(c)]
                    if c == 1:
                        r = g = b = float(planes[0].mean())
                    else:
                        r = float(planes[0].mean())
                        g = float(planes[1].mean())
                        b = float(planes[2].mean())
                    out["width"].append(img["width"])
                    out["height"].append(img["height"])
                    out["channels"].append(c)
                    out["mean_r"].append(round(r, 4))
                    out["mean_g"].append(round(g, 4))
                    out["mean_b"].append(round(b, 4))
                    out["mean_luma"].append(
                        round(0.299 * r + 0.587 * g + 0.114 * b, 4)
                    )
                    out["decode_ok"].append(True)
                except Exception:
                    for k in ("width", "height", "channels"):
                        out[k].append(None)
                    for k in ("mean_r", "mean_g", "mean_b", "mean_luma"):
                        out[k].append(None)
                    out["decode_ok"].append(False)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        gen,
        schema="doc_id long, width int, height int, channels int, "
        "mean_r double, mean_g double, mean_b double, mean_luma double, "
        "decode_ok boolean",
    )


# ---------------------------------------------------------------------------
# REAL video frame-sampling over a PNG-frame container.  Industry video
# codecs (H.264 etc.) need ffmpeg and stay stubbed; but the MECHANICS of
# video-as-a-column — parse a container, seek frames, sample every k-th,
# decode each sampled frame, 1:N fan-out — are fully real here using a
# simple length-prefixed container of real PNG frames (the shape an
# MJPEG/image2 pipeline produces).
# ---------------------------------------------------------------------------
_VID_MAGIC = b"PNGV"
_MJPG_MAGIC = b"MJPG"


def synth_mjpeg_video_bytes(n_frames: int, width: int = 16, height: int = 16,
                            base: int = 0) -> bytes:
    """Deterministic MJPEG-style 'video': ``n_frames`` real baseline
    JPEG frames (frame i is solid gray level (base + 7*i) % 256) in the
    same length-prefixed container as the PNG variant: magic | u32
    n_frames | (u32 len | jpeg_bytes)*.  With the real JPEG codec this
    makes video-as-a-column fully real up to the container layer — the
    remaining seam is inter-frame codecs (H.264) only."""
    import struct

    out = bytearray(_MJPG_MAGIC + struct.pack(">I", n_frames))
    for i in range(n_frames):
        g = (base + 7 * i) % 256
        jpg = synth_jpeg_bytes(width, height, (g, g, g))
        out += struct.pack(">I", len(jpg)) + jpg
    return bytes(out)


def synth_png_video_bytes(n_frames: int, width: int = 8, height: int = 8,
                          base: int = 0) -> bytes:
    """Deterministic 'video': ``n_frames`` real PNG frames (frame i is
    solid gray level (base + 7*i) % 256) in a length-prefixed container:
    magic | u32 n_frames | (u32 len | png_bytes)*."""
    import struct

    out = bytearray(_VID_MAGIC + struct.pack(">I", n_frames))
    for i in range(n_frames):
        g = (base + 7 * i) % 256
        png = synth_png_bytes(width, height, (g, g, g))
        out += struct.pack(">I", len(png)) + png
    return bytes(out)


def sample_video_frames(
    df: DataFrame,
    every_k: int = 4,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL frame sampling + per-frame decode: parse the container,
    take frames 0, k, 2k, ..., decode each sampled frame with the real
    PNG codec, and fan out 1:N rows of (doc_id, frame_idx, width,
    height, mean_luma).  Frames that are NOT sampled are never
    decoded — the container's length prefixes let the parser SKIP
    their bytes, which is the entire economics of frame sampling at
    100 TB (decode cost proportional to sampled frames, I/O to the
    container scan).  Corrupt containers/frames degrade per-asset."""
    import struct

    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "mean_luma": [], "decode_ok": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    buf = bytes(payload)
                    if buf[:4] not in (_VID_MAGIC, _MJPG_MAGIC):
                        raise ValueError("bad container magic")
                    (n,) = struct.unpack(">I", buf[4:8])
                    pos = 8
                    for i in range(n):
                        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
                        pos += 4
                        frame = buf[pos : pos + ln]
                        pos += ln
                        if i % every_k:
                            continue  # skipped frames are never decoded
                        # signature dispatch: PNG or baseline JPEG frames
                        img = decode_image(frame)
                        px = img["pixels"].astype(np.float64)
                        c = img["channels"]
                        planes = [px[:, j::c] for j in range(max(c, 1))]
                        if c >= 3:
                            luma = (
                                0.299 * planes[0].mean()
                                + 0.587 * planes[1].mean()
                                + 0.114 * planes[2].mean()
                            )
                        else:
                            luma = planes[0].mean()
                        rows["doc_id"].append(doc_id)
                        rows["frame_idx"].append(i)
                        rows["width"].append(img["width"])
                        rows["height"].append(img["height"])
                        rows["mean_luma"].append(round(float(luma), 4))
                        rows["decode_ok"].append(True)
                except Exception:
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(None)
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["mean_luma"].append(None)
                    rows["decode_ok"].append(False)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(
        gen,
        schema="doc_id long, frame_idx int, width int, height int, "
        "mean_luma double, decode_ok boolean",
    )


# ---------------------------------------------------------------------------
# REAL baseline JPEG (pure stdlib + numpy): forward DCT + huffman ENCODER
# and a marker-walking DECODER (DQT/DHT/SOF0/SOS parse, canonical huffman,
# dequantize, 8x8 IDCT, YCbCr -> RGB, restart markers, 1x1/2x2 sampling
# with nearest upsampling).  Same discipline as the PNG pair: the encoder
# is an INDEPENDENT forward implementation of the transform the decoder
# inverts, so round-trip tests verify both against each other, and solid
# -color images pin against analytic truth (a flat block is DC-only, so
# quantization error is bounded by one DC step).  The decoder reads the
# tables embedded in the stream, so any baseline JFIF decodes — the
# remaining seam is video codecs (H.264 needs ffmpeg), not stills.
# ---------------------------------------------------------------------------
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# ITU-T T.81 Annex K.1/K.2 quantization tables (natural order via zigzag)
_JPEG_QL_ZZ = [
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
]
_JPEG_QC_ZZ = [
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_dct_matrix():
    """8x8 DCT-II basis A with A[u,x] = C(u)/2 * cos((2x+1)u*pi/16):
    forward DCT of block B is A @ B @ A.T, inverse is A.T @ F @ A."""
    import math

    import numpy as np

    A = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            A[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return A


# Encoder huffman tables: fixed-length canonical codes (12 DC symbols at
# 5 bits, 162 AC symbols at 8 bits).  Deliberately NOT Annex K's typical
# tables: any valid table works because the DHT segment embeds it in the
# stream (the decoder reads tables from the stream, never assumes) —
# fixed-length codes cost compression, not correctness, and cannot be
# silently mistranscribed in a way a round-trip test would miss.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict:
    """JPEG canonical huffman: symbol -> (code, length) from the 16-entry
    counts list (counts[i] codes of length i+1)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _enc_tables():
    dc_counts = [0] * 16
    dc_counts[4] = len(_DC_SYMS)  # all 12 DC categories at 5 bits
    ac_counts = [0] * 16
    ac_counts[7] = len(_AC_SYMS)  # all 162 AC symbols at 8 bits
    return (
        dc_counts,
        _DC_SYMS,
        _canonical_codes(dc_counts, _DC_SYMS),
        ac_counts,
        _AC_SYMS,
        _canonical_codes(ac_counts, _AC_SYMS),
    )


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def synth_jpeg_bytes(width: int, height: int, rgb=(128, 64, 32)) -> bytes:
    """Deterministic baseline JFIF ENCODER (4:4:4, 8-bit): RGB ->
    YCbCr, 8x8 forward DCT, Annex-K quantization, canonical huffman.
    Solid ``rgb`` fill; real marker structure (SOI APP0 DQT SOF0 DHT
    SOS ... EOI) readable by any baseline decoder."""
    import struct

    import numpy as np

    r, g, b = (float(v) for v in rgb)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [
        np.full((height, width), y),
        np.full((height, width), cb),
        np.full((height, width), cr),
    ]
    return encode_jpeg_planes(planes, width, height)


def _plane_zigzag(plane, q, A) -> list:
    """Forward-DCT + quantize + zigzag EVERY 8x8 block of a padded
    component plane in one batched pass (r13, guide §4.2): one matmul
    over the (n_blocks, 8, 8) stack instead of two tiny matmuls per
    block — verified bit-identical to the per-block form by the codec
    battery.  Returns nested lists indexed [block_row][block_col] of
    64 zigzag-ordered int coefficients."""
    import numpy as np

    h, w = plane.shape
    nby, nbx = h // 8, w // 8
    stk = (plane - 128.0).reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    f8 = np.matmul(np.matmul(A, stk), A.T)
    coef = np.round(f8 / q).astype(int)
    return coef.reshape(nby, nbx, 64)[:, :, _JPEG_ZIGZAG].tolist()


def _enc_entropy(bw, zz, dc_codes, ac_codes, pred, ci) -> None:
    """Entropy-code one block's 64 zigzag coefficients (plain ints).
    The huffman code and its value bits are emitted as ONE write —
    the bit stream is identical, with half the writer calls."""
    dc = zz[0]
    diff = dc - pred[ci]
    pred[ci] = dc
    cat = _jpeg_category(diff)
    code, ln = dc_codes[cat]
    if cat:
        v = diff if diff > 0 else diff + (1 << cat) - 1
        bw.write((code << cat) | (v & ((1 << cat) - 1)), ln + cat)
    else:
        bw.write(code, ln)
    prev = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            continue
        run = k - prev - 1
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat = _jpeg_category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bits = v if v > 0 else v + (1 << cat) - 1
        bw.write((code << cat) | (bits & ((1 << cat) - 1)), ln + cat)
        prev = k
    if prev != 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)


def encode_jpeg_planes(
    planes,
    width: int,
    height: int,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode explicit Y/Cb/Cr float planes (each (height, width)) as a
    baseline JFIF stream — the general entry the synth helpers and
    tests drive with arbitrary pixel content.  ``subsample=True``
    emits 4:2:0 (Y at 2x2 factors, chroma 2x2-mean-downsampled,
    16x16 MCUs); ``restart_interval`` emits DRI + RSTn markers every N
    MCUs — both exist so the decoder's generic sampling/restart paths
    are exercised by a genuinely different forward implementation."""
    import struct

    import numpy as np

    A = _jpeg_dct_matrix()
    dc_counts, dc_syms, dc_codes, ac_counts, ac_syms, ac_codes = _enc_tables()
    ql = np.array(_JPEG_QL_ZZ)[np.argsort(_JPEG_ZIGZAG)].reshape(8, 8)
    qc = np.array(_JPEG_QC_ZZ)[np.argsort(_JPEG_ZIGZAG)].reshape(8, 8)

    def pad_to(plane, ph, pw):
        p = np.asarray(plane, dtype=np.float64)
        out = np.zeros((ph, pw))
        h, w = p.shape
        out[:h, :w] = p
        out[h:, :] = out[h - 1 : h, :]  # edge replication
        out[:, w:] = out[:, w - 1 : w]
        return out

    if subsample:
        factors = [(2, 2), (1, 1), (1, 1)]
        mcux = (width + 15) // 16
        mcuy = (height + 15) // 16
        # chroma: 2x2 mean downsample of an even-padded plane
        ep_h, ep_w = (height + 1) // 2 * 2, (width + 1) // 2 * 2
        comp_planes = [pad_to(planes[0], mcuy * 16, mcux * 16)]
        for ch in planes[1:]:
            p = pad_to(ch, ep_h, ep_w)
            ds = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            comp_planes.append(pad_to(ds, mcuy * 8, mcux * 8))
    else:
        factors = [(1, 1), (1, 1), (1, 1)]
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
        comp_planes = [pad_to(p, mcuy * 8, mcux * 8) for p in planes]

    # whole-plane DCT/quantize/zigzag per component (batched, see
    # _plane_zigzag); the sequential MCU walk below is entropy-only
    comp_zz = [
        _plane_zigzag(plane, ql if ci == 0 else qc, A)
        for ci, plane in enumerate(comp_planes)
    ]
    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.buf += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = [0, 0, 0]
            mcu_count += 1
            for ci, (fh, fv) in enumerate(factors):
                zzp = comp_zz[ci]
                for byi in range(fv):
                    for bxi in range(fh):
                        _enc_entropy(
                            bw, zzp[my * fv + byi][mx * fh + bxi],
                            dc_codes, ac_codes, pred, ci,
                        )
    bw.flush()

    def seg(marker: int, data: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(data) + 2) + data

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(_JPEG_QL_ZZ))
    out += seg(0xDB, bytes([0x01]) + bytes(_JPEG_QC_ZZ))
    sof = struct.pack(">BHHB", 8, height, width, 3)
    for (cid, q), (fh, fv) in zip(((1, 0), (2, 1), (3, 1)), factors):
        sof += bytes((cid, (fh << 4) | fv, q))
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    out += seg(0xC4, bytes([0x01]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x11]) + bytes(ac_counts) + bytes(ac_syms))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3]) + bytes((1, 0x00, 2, 0x11, 3, 0x11)) + bytes((0, 63, 0))
    out += seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-coded-segment reader: un-stuffs 0xFF00, stops at markers
    (reporting RSTn so the caller can reset DC predictors)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> None:
        # drop the consumed high bits first: without it acc grows by 8
        # bits per byte, and every shift copies the whole segment so far
        self.acc &= (1 << self.nbits) - 1
        d = self.data
        while self.nbits < 25:
            if self.pos >= len(d):
                return
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0x00:  # stuffed literal FF
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
                # RSTn (caller resyncs) or EOI/next segment: stop here
                self.marker = nxt
                return
            self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                raise ValueError("JPEG entropy stream exhausted")
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        # one shift/mask instead of n read_bit() calls (r13, guide §4.2
        # — this reader runs inside the per-asset decode of every JPEG
        # in a scan); _fill buffers >= 25 bits when data remains and
        # JPEG value fields are <= 16 bits, so one fill always suffices
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
            if self.nbits < n:
                raise ValueError("JPEG entropy stream exhausted")
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def resync_restart(self) -> None:
        """Consume an expected RSTn marker and realign to byte boundary.

        The marker may not have been SEEN yet: ``_fill`` only flags a
        marker when buffering runs into it, and the decoder can reach a
        restart boundary with the pad bits still buffered and ``pos``
        sitting exactly on the 0xFF (pre-r13 this raised a spurious
        'entropy stream exhausted' on any stream whose restart segment
        ended flush with the read-ahead — caught by the r13 codec
        battery; all catalog fixtures use restart_interval=0, so no
        declared query output changes).  So when no marker is flagged,
        look for it directly at ``pos``."""
        self.acc = 0
        self.nbits = 0
        if self.marker is not None:
            if 0xD0 <= self.marker <= 0xD7:
                self.pos += 2
                self.marker = None
            return
        d = self.data
        p = self.pos
        while p + 1 < len(d) and d[p] == 0xFF and d[p + 1] == 0xFF:
            p += 1  # legal fill bytes ahead of the marker (T.81 B.1.1.2)
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2


# Huffman decode LUTs, keyed by the DHT segment content (counts +
# symbols bytes).  JPEG codes are <= 16 bits, so one 65536-entry table
# per huffman table decodes any symbol with a single 16-bit peek — the
# classic table-driven decoder — replacing the per-BIT loop that was
# ~85% of decode time (r13, guide §4.2).  The cache holds decode
# TABLES (derived from ~200 bytes of stream metadata), never pixels or
# results; the fixture encoder emits the standard Annex-K tables, so
# every image in a scan hits the same four entries.
_HUFF_LUT_CACHE: dict[tuple[bytes, bytes], list[int]] = {}


def _huff_lut(counts: list[int], symbols: list[int]) -> list[int]:
    """65536-entry decode table for a canonical JPEG huffman table:
    entry[window16] = (code_length << 8) | symbol for every 16-bit
    window starting with that code; 0 marks an invalid prefix.  Raises
    on an over-subscribed table (more codes of some length than fit)."""
    key = (bytes(counts), bytes(symbols))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is not None:
        return lut
    lut = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if code >= 1 << length:
                raise ValueError("invalid DHT")
            start = code << (16 - length)
            span = 1 << (16 - length)
            lut[start : start + span] = [(length << 8) | symbols[k]] * span
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_LUT_CACHE) >= 64:
        _HUFF_LUT_CACHE.clear()
    _HUFF_LUT_CACHE[key] = lut
    return lut


def _huff_read(br: _BitReader, lut: list[int]) -> int:
    """Decode one symbol via a 16-bit peek into the table's LUT.  Near
    the end of the entropy segment fewer than 16 bits may remain: the
    window is zero-padded, and a decoded length longer than the real
    remainder means the stream genuinely ran out mid-code (the per-bit
    reader raised the same error there)."""
    nb = br.nbits
    if nb < 16:
        br._fill()
        nb = br.nbits
    if nb >= 16:
        e = lut[(br.acc >> (nb - 16)) & 0xFFFF]
    elif nb:
        e = lut[(br.acc << (16 - nb)) & 0xFFFF]
    else:
        raise ValueError("JPEG entropy stream exhausted")
    length = e >> 8
    if length == 0:
        raise ValueError("invalid JPEG huffman code")
    if length > nb:
        raise ValueError("JPEG entropy stream exhausted")
    br.nbits = nb - length
    return e & 0xFF


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(payload: bytes) -> dict:
    """REAL baseline JPEG decode: marker walk, DQT/DHT/SOF0/SOS parse,
    canonical huffman, dequantize, 8x8 IDCT, nearest chroma upsampling
    (1x1 or 2x2 factors), YCbCr->RGB, restart-marker aware.  Tables
    come from the STREAM, so any baseline JFIF decodes — progressive
    (SOF2) and arithmetic coding raise, like the PNG decoder raises on
    interlace.  Returns {width, height, channels, pixels (h, w*c
    uint8)} matching decode_png's contract."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, "np.ndarray"] = {}
    htables: dict[tuple[int, int], dict] = {}
    sof = None
    comps = []
    restart_interval = 0
    scan_comps = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # legal streams may pad with repeated 0xFF fill bytes ahead of
        # the marker code (ITU T.81 B.1.1.2) — skip to the last one
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("truncated JPEG (fill bytes run to end of stream)")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone (no length field)
            pos += 2
            continue
        (length,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        data = payload[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(data[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = zz[np.argsort(_JPEG_ZIGZAG)].reshape(8, 8).astype(
                    np.float64
                )
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                counts = list(data[i + 1 : i + 17])
                n = sum(counts)
                syms = list(data[i + 17 : i + 17 + n])
                htables[(tc, th)] = _huff_lut(counts, syms)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision, height, width, ncomp = struct.unpack(">BHHB", data[:6])
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = data[6 + c * 3 : 9 + c * 3]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            sof = (width, height)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS
            ns = data[0]
            scan_comps = []
            for c in range(ns):
                cs, tdta = data[1 + c * 2 : 3 + c * 2]
                scan_comps.append((cs, tdta >> 4, tdta & 0xF))
            pos = pos + 2 + length
            break
        pos += 2 + length
    if sof is None or scan_comps is None:
        raise ValueError("JPEG missing SOF/SOS")
    width, height = sof
    if any(c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps):
        raise ValueError("sampling factors beyond 2x2 unsupported")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}
    for cs, td, ta in scan_comps:
        by_id[cs]["dc"] = htables[(0, td)]
        by_id[cs]["ac"] = htables[(1, ta)]
    A = _jpeg_dct_matrix()
    pred = [0] * len(comps)
    br = _BitReader(payload, pos)
    mcu_count = 0
    # entropy pass first (sequential by construction — each code's start
    # depends on the previous code's length), collecting one 64-long
    # zigzag row per block; dequantize + IDCT then run BATCHED over all
    # of a component's blocks at once (r13, guide §4.2: one matmul over
    # a (n, 8, 8) stack instead of 2 tiny matmuls per block — verified
    # bit-identical to the per-block form by the codec battery)
    rows: list[list[list[float]]] = [[] for _ in comps]
    rpos: list[list[tuple[int, int]]] = [[] for _ in comps]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.resync_restart()
                pred = [0] * len(comps)
            mcu_count += 1
            for ci, c in enumerate(comps):
                dc_lut = c["dc"]
                ac_lut = c["ac"]
                for byi in range(c["v"]):
                    for bxi in range(c["h"]):
                        zz = [0.0] * 64
                        cat = _huff_read(br, dc_lut)
                        diff = _extend(br.read_bits(cat), cat) if cat else 0
                        pred[ci] += diff
                        zz[0] = float(pred[ci])
                        k = 1
                        while k < 64:
                            rs = _huff_read(br, ac_lut)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC run overflow")
                            s = rs & 0xF
                            zz[k] = float(_extend(br.read_bits(s), s))
                            k += 1
                        rows[ci].append(zz)
                        rpos[ci].append((my * c["v"] + byi, mx * c["h"] + bxi))
    planes = []
    for ci, c in enumerate(comps):
        nby, nbx = mcuy * c["v"], mcux * c["h"]
        coef = np.zeros((nby * nbx, 64))
        coef[:, _JPEG_ZIGZAG] = np.array(rows[ci], dtype=np.float64)
        q = qtables[c["tq"]]
        blocks = np.matmul(np.matmul(A.T, coef.reshape(-1, 8, 8) * q), A) + 128.0
        grid = np.empty((nby, nbx, 8, 8))
        grid[
            np.fromiter((p[0] for p in rpos[ci]), dtype=np.int64),
            np.fromiter((p[1] for p in rpos[ci]), dtype=np.int64),
        ] = blocks
        planes.append(grid.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8))
    # upsample subsampled components to full resolution (nearest)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] < hmax or c["v"] < vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], 0), hmax // c["h"], 1)
        full.append(p[:height, :width])
    if len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=2)
        px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return {
            "width": width,
            "height": height,
            "channels": 3,
            "pixels": px.reshape(height, width * 3),
        }
    px = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    return {"width": width, "height": height, "channels": 1, "pixels": px}


def decode_jpeg_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL JPEG decode + stats over a binary column — the DCT-codec
    twin of decode_png_stats (same output contract: dimensions,
    channel means, Rec.601 luma, decode_ok degradation)."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "channels": [],
                "mean_r": [], "mean_g": [], "mean_b": [], "mean_luma": [],
                "decode_ok": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(doc_id)
                try:
                    img = decode_jpeg(bytes(payload))
                    px = img["pixels"].astype(np.float64)
                    c = img["channels"]
                    planes = [px[:, i::c] for i in range(c)]
                    if c == 1:
                        r = g = b = float(planes[0].mean())
                    else:
                        r = float(planes[0].mean())
                        g = float(planes[1].mean())
                        b = float(planes[2].mean())
                    out["width"].append(img["width"])
                    out["height"].append(img["height"])
                    out["channels"].append(c)
                    out["mean_r"].append(round(r, 4))
                    out["mean_g"].append(round(g, 4))
                    out["mean_b"].append(round(b, 4))
                    out["mean_luma"].append(
                        round(0.299 * r + 0.587 * g + 0.114 * b, 4)
                    )
                    out["decode_ok"].append(True)
                except Exception:
                    for k in ("width", "height", "channels"):
                        out[k].append(None)
                    for k in ("mean_r", "mean_g", "mean_b", "mean_luma"):
                        out[k].append(None)
                    out["decode_ok"].append(False)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        gen,
        schema="doc_id long, width int, height int, channels int, "
        "mean_r double, mean_g double, mean_b double, mean_luma double, "
        "decode_ok boolean",
    )


def resize_png_stats(
    df: DataFrame,
    out_w: int = 4,
    out_h: int = 4,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL image RESIZE over a binary PNG column (the resize leg of the
    decode / feature-extract / resize / frame-sample multimodal quartet):
    decode with the pure-stdlib codec, then downsample deterministically
    with no resampling library —

    - BOX AVERAGE when the source dimensions divide evenly by the
      target (exact: each output pixel is the float mean of its
      bh x bw source block — the analytic ground truth tests exploit
      this exactness);
    - NEAREST-NEIGHBOR index map (floor(i * src / out)) otherwise.

    Arrow-batched mapInPandas, one typed row per asset: source/target
    dims, the method used, per-channel means OF THE RESIZED image, and
    an int64 checksum of the rounded resized pixels (so downstream can
    pin the full pixel content, not just means).  Corrupt assets
    degrade to decode_ok=false rows — one bad asset must not kill a
    100 TB scan."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    d = decode_png(bytes(payload))
                    h, w, c = d["height"], d["width"], d["channels"]
                    px = np.asarray(d["pixels"], dtype=np.float64).reshape(
                        h, w, c
                    )
                    if h % out_h == 0 and w % out_w == 0:
                        bh, bw = h // out_h, w // out_w
                        rs = px.reshape(out_h, bh, out_w, bw, c).mean(
                            axis=(1, 3)
                        )
                        method = "box"
                    else:
                        yi = (np.arange(out_h) * h) // out_h
                        xi = (np.arange(out_w) * w) // out_w
                        rs = px[yi][:, xi]
                        method = "nearest"
                    means = [
                        float(rs[..., ch].mean()) if ch < c else None
                        for ch in range(3)
                    ]
                    rows.append(
                        (
                            int(did), True, int(w), int(h),
                            int(out_w), int(out_h), method,
                            means[0], means[1], means[2],
                            int(np.rint(rs).astype(np.int64).sum()),
                        )
                    )
                except Exception:
                    rows.append(
                        (int(did), False, None, None, int(out_w),
                         int(out_h), None, None, None, None, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "decode_ok", "src_w", "src_h", "out_w",
                    "out_h", "method", "mean_r", "mean_g", "mean_b",
                    "checksum",
                ],
            )

    return df.mapInPandas(
        gen,
        schema=(
            "doc_id bigint, decode_ok boolean, src_w int, src_h int, "
            "out_w int, out_h int, method string, mean_r double, "
            "mean_g double, mean_b double, checksum bigint"
        ),
    )
