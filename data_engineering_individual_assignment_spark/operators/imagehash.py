"""Perceptual image hashing + hamming near-dup pairs: the pixel-content
image modality of the dedup lattice (text exact/near/sub-document and
embedding cosine/SemDeDup/LSH are in ``operators/dedup.py`` /
``operators/similarity.py``; this module closes the LAION-style
image-dedup gap).

Two classic 64-bit perceptual hashes over the REAL pure-stdlib codecs
(``operators/multimodal.decode_png`` / ``decode_jpeg``):

- **dHash** (difference hash): decode -> Rec.601 luma -> exact
  area-average resize to 8x9 -> bit j = (right neighbor brighter).
  Invariant to brightness/contrast shifts (monotone per-pixel maps
  preserve neighbor orderings) and robust to re-encoding and small
  crops — the variants a crawl corpus actually contains.
- **aHash** (average hash): 8x8 resize, bit = (cell > global mean).

Candidate generation is **Multi-Index Hashing** (Norouzi, Punjani &
Fleet, CVPR 2012, "Fast Search in Hamming Space with Multi-Index
Hashing"): split the 64-bit hash into B substrings; by pigeonhole, a
pair within hamming H agrees within hamming floor(H/B) on at least one
substring.  With B=4 16-bit bands and probe radius r=1 (each doc also
emits every 1-bit perturbation of each band key), any pair with
hamming <= 2B-1 = 7 is GUARANTEED to collide on an exact
(band, key) — while keys stay 16-bit (65k buckets), so expected
candidate volume is ~17*n^2/65536 instead of the ~n^2/32 a naive
8x8-bit banding (the ham<=7 pigeonhole with exact-match-only bands)
would produce.  That 120x candidate reduction is what keeps the
self-join sub-quadratic at corpus scale.

At 100 TB: decode+hash is a per-asset Arrow-batched mapInPandas — no
shuffle, payload bytes never leave their executor, and only the
(id, int64 hash) relation (16 bytes/asset) enters the join, which is a
plain equi-join on (band, key) — AQE-planned, skew-safe (keys are
near-uniform for non-degenerate corpora), verification restricted to
candidates via bit_count(xor).  Raising the threshold past 2B-1 needs
probe radius 2 (C(16,2)=120 probes/band) — asserted against rather
than silently degrading; production pipelines wanting looser matches
use a wider hash (256-bit pHash -> 16 bands) instead.

The reference has no image operators (its only media handling is
YouTube *metadata* rows, e.g. Video_Data extraction at
``02_YouTube_API_Data_Extraction[F].py:43``); this family is part of
the beyond-reference LLM-pipeline surface the build contract names.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# numpy-side primitives (importable + unit-testable without Spark)
# ---------------------------------------------------------------------------
def area_resize(gray, out_h: int, out_w: int):
    """Exact area-average resize of a (h, w) float array to
    (out_h, out_w): each output cell is the mean of its (fractional)
    source box, computed from the integral image with linear
    interpolation at fractional box edges.  Deterministic (pure
    float64 numpy), handles any size ratio — the general form of the
    divisible-only box average in ``multimodal.resize_png_stats``."""
    import numpy as np

    g = np.asarray(gray, dtype=np.float64)
    h, w = g.shape
    integral = np.zeros((h + 1, w + 1))
    integral[1:, 1:] = g.cumsum(0).cumsum(1)

    def sample_rows(mat, coords):
        idx = np.floor(coords).astype(np.int64)
        frac = coords - idx
        idx = np.clip(idx, 0, mat.shape[0] - 1)
        nxt = np.clip(idx + 1, 0, mat.shape[0] - 1)
        return mat[idx] * (1.0 - frac)[:, None] + mat[nxt] * frac[:, None]

    ys = np.arange(out_h + 1) * (h / out_h)
    xs = np.arange(out_w + 1) * (w / out_w)
    by_y = sample_rows(integral, ys)
    by_xy = sample_rows(by_y.T, xs).T
    boxes = (
        by_xy[1:, 1:] - by_xy[:-1, 1:] - by_xy[1:, :-1] + by_xy[:-1, :-1]
    )
    return boxes / ((h / out_h) * (w / out_w))


def _to_signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _area_resize_batch(stack, out_h: int, out_w: int):
    """``area_resize`` over an (n, h, w) stack of SAME-SHAPE images in
    one vectorized pass (r13, guide §4.2): cumsums and interpolation
    gain a leading batch axis, every per-element FP operation is
    unchanged, so results are bit-identical to the per-image form
    (pinned by test_batch_hashes_match_per_image)."""
    import numpy as np

    g = np.asarray(stack, dtype=np.float64)
    n, h, w = g.shape
    integral = np.zeros((n, h + 1, w + 1))
    integral[:, 1:, 1:] = g.cumsum(1).cumsum(2)

    def sample_rows(mat, coords, axis_len):
        idx = np.floor(coords).astype(np.int64)
        frac = coords - idx
        idx = np.clip(idx, 0, axis_len - 1)
        nxt = np.clip(idx + 1, 0, axis_len - 1)
        return (
            mat[:, idx, :] * (1.0 - frac)[None, :, None]
            + mat[:, nxt, :] * frac[None, :, None]
        )

    ys = np.arange(out_h + 1) * (h / out_h)
    xs = np.arange(out_w + 1) * (w / out_w)
    by_y = sample_rows(integral, ys, h + 1)
    by_xy = sample_rows(by_y.transpose(0, 2, 1), xs, w + 1).transpose(0, 2, 1)
    boxes = (
        by_xy[:, 1:, 1:]
        - by_xy[:, :-1, 1:]
        - by_xy[:, 1:, :-1]
        + by_xy[:, :-1, :-1]
    )
    return boxes / ((h / out_h) * (w / out_w))


def _pack_bits64(bits):
    """(n, 64) bool -> signed int64 hash per row.  int64 shift wraps the
    top bit to the sign exactly like ``_to_signed64`` reinterprets it,
    so this IS the signed hash (pinned by the batch-identity test)."""
    import numpy as np

    shifts = np.arange(64, dtype=np.int64)
    return (bits.astype(np.int64) << shifts).sum(axis=1)


# Hashing is chunked so the batched integral-image temporaries stay
# cache-sized: an UNBOUNDED stack regresses badly — measured 15.3 s
# for 8,000 64x64 images in one (8000, 65, 65) cumsum pass (vs 0.72 s
# in 512-image chunks, and 2.7 s for the old per-image loop).  The
# vectorization win saturates by a few hundred images; past that the
# working set just falls out of cache.  Chunking never changes values
# (each image's math is independent).
_HASH_CHUNK = 512


def dhash64_batch(stack):
    """Batched ``dhash64_gray`` over an (n, h, w) same-shape stack;
    returns an int64 array, bit-identical to the per-image hashes.
    Internally processed in cache-sized chunks (see _HASH_CHUNK)."""
    import numpy as np

    out = []
    for i in range(0, len(stack), _HASH_CHUNK):
        chunk = stack[i : i + _HASH_CHUNK]
        small = _area_resize_batch(chunk, 8, 9)
        bits = (small[:, :, 1:] > small[:, :, :-1]).reshape(len(chunk), 64)
        out.append(_pack_bits64(bits))
    return np.concatenate(out) if len(out) != 1 else out[0]


def ahash64_batch(stack):
    """Batched ``ahash64_gray``; same contract as ``dhash64_batch``."""
    import numpy as np

    out = []
    for i in range(0, len(stack), _HASH_CHUNK):
        chunk = stack[i : i + _HASH_CHUNK]
        small = _area_resize_batch(chunk, 8, 8)
        means = small.mean(axis=(1, 2))
        bits = (small > means[:, None, None]).reshape(len(chunk), 64)
        out.append(_pack_bits64(bits))
    return np.concatenate(out) if len(out) != 1 else out[0]


def dhash64_gray(gray) -> int:
    """64-bit difference hash of a (h, w) grayscale array: resize to
    8x9, bit (row*8 + col) = 1 iff cell[row, col+1] > cell[row, col].
    Returned as SIGNED int64 (Spark bigint domain)."""
    small = area_resize(gray, 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    return _to_signed64(sum(int(b) << i for i, b in enumerate(bits)))


def ahash64_gray(gray) -> int:
    """64-bit average hash: resize to 8x8, bit = cell > global mean.
    Returned as SIGNED int64."""
    small = area_resize(gray, 8, 8)
    bits = (small > small.mean()).flatten()
    return _to_signed64(sum(int(b) << i for i, b in enumerate(bits)))


def luma_plane(img: dict):
    """Rec.601 luma (h, w) float64 plane from a ``decode_png`` /
    ``decode_jpeg`` result dict."""
    import numpy as np

    px = np.asarray(img["pixels"], dtype=np.float64)
    h, w, c = img["height"], img["width"], img["channels"]
    px = px.reshape(h, w, c)
    if c == 1:
        return px[:, :, 0]
    return 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]


def synth_texture_gray(seed: int, size: int = 64):
    """Deterministic SMOOTH grayscale test texture: an 8x8 grid of
    md5-derived levels in [40, 215] (so a +-12 brightness shift never
    clips), block-upsampled to size x size and 3x3 box-blurred with
    edge replication.  Smoothness matters: perceptual hashes assume
    natural-image spatial coherence — white-noise fixtures would make
    the 1-px-crop variant flip arbitrary bits and test nothing."""
    import numpy as np

    g = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            d = hashlib.md5(f"img-{seed}-{y}-{x}".encode()).digest()
            g[y, x] = 40 + (d[0] % 176)
    up = np.kron(g, np.ones((size // 8, size // 8)))
    p = np.pad(up, 1, mode="edge")
    return (
        sum(p[dy : dy + size, dx : dx + size] for dy in range(3) for dx in range(3))
        / 9.0
    )


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def image_phash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    algo: str = "dhash",
) -> DataFrame:
    """Perceptual hash over a binary image column (PNG or baseline JPEG,
    dispatched on container signature by ``multimodal.decode_image``):
    Arrow-batched mapInPandas, one (doc_id, phash bigint, decode_ok)
    row per asset.  Corrupt payloads degrade to decode_ok=false /
    phash NULL — one bad asset must not kill a 100 TB scan.  No
    shuffle; payload bytes never leave their executor."""
    import numpy as np
    import pandas as pd

    from .multimodal import decode_image

    hash_fn = {"dhash": dhash64_gray, "ahash": ahash64_gray}[algo]
    batch_fn = {"dhash": dhash64_batch, "ahash": ahash64_batch}[algo]

    def gen(batches):
        for pdf in batches:
            # decode per image (container parse is per-asset by nature),
            # then hash same-shape luma planes in batched passes (r13,
            # guide §4.2) — bit-identical to the per-image hash; row
            # order and the per-asset degrade contract unchanged.  Each
            # shape group is FLUSHED at _HASH_CHUNK planes so at most
            # one chunk of decoded planes per shape is ever held (an
            # Arrow batch is 10k rows at scale — accumulating all of
            # its planes before hashing would hold ~100s of MB per
            # worker for zero additional vectorization win).
            ids = [int(d) for d in pdf[id_col]]
            hashes: list = [None] * len(ids)
            oks = [False] * len(ids)
            by_shape: dict = {}

            def flush(idxs, lums):
                try:
                    hs = batch_fn(np.stack(lums)).tolist()
                except Exception:
                    # degrade to per-image so one pathological plane
                    # flags only its own row
                    hs = []
                    for lum in lums:
                        try:
                            hs.append(hash_fn(lum))
                        except Exception:
                            hs.append(None)
                for i, hv in zip(idxs, hs):
                    hashes[i] = hv
                    oks[i] = hv is not None

            for i, payload in enumerate(pdf[payload_col]):
                try:
                    lum = luma_plane(decode_image(bytes(payload)))
                except Exception:
                    continue
                idxs, lums = by_shape.setdefault(lum.shape, ([], []))
                idxs.append(i)
                lums.append(lum)
                if len(lums) >= _HASH_CHUNK:
                    flush(idxs, lums)
                    idxs.clear()
                    lums.clear()
            for idxs, lums in by_shape.values():
                if lums:
                    flush(idxs, lums)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="Int64"),
                    "decode_ok": pd.Series(oks, dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema="doc_id bigint, phash bigint, decode_ok boolean"
    )


def phash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 7,
    num_bands: int = 4,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = (),
    persist: bool = True,
) -> DataFrame:
    """All pairs within ``max_hamming`` of each other by Multi-Index
    Hashing over a 64-bit hash column, entirely JVM-side.

    The hash splits into ``num_bands`` equal substrings; probe radius
    r = floor(max_hamming / num_bands).  Pigeonhole: a pair with
    hamming <= max_hamming agrees within r bits on >= 1 band, so
    emitting each doc's exact band keys PLUS every <=r-bit perturbation
    and equi-joining probes against exact keys finds every qualifying
    pair — candidates verified by bit_count(xor).  r <= 1 is enforced
    (r=2 means C(band_bits, 2) probes per band; widen the hash or add
    bands instead).  With the 4x16-bit default, guarantee holds to
    hamming 7 at 65k buckets/band — the naive exact-band pigeonhole
    would need 8 bands of 8 bits (256 buckets, ~120x the candidate
    volume on uniform keys).

    Returns (doc_a, doc_b, hamming:int), doc_a < doc_b, exact + total.
    ``group_cols`` restricts pairing to rows sharing those columns
    (e.g. a video signature relation pairs per ``frame_idx``) and
    prepends them to the output — with the default empty tuple the
    plan is byte-identical to the ungrouped form.
    """
    if 64 % num_bands:
        raise ValueError("num_bands must divide 64")
    band_bits = 64 // num_bands
    radius = max_hamming // num_bands
    if radius > 1:
        raise ValueError(
            f"max_hamming={max_hamming} with {num_bands} bands needs probe "
            f"radius {radius}; use more bands or a wider hash"
        )
    mask = (1 << band_bits) - 1
    gcols = list(group_cols)
    from .dedup import _persist

    # the slim (id, hash) relation feeds both the probe and the exact
    # side of the self-join; persist it so the decode+hash scan
    # upstream runs once (payload bytes are never cached).  Callers
    # that already persisted the input pass persist=False to avoid
    # double-caching the same rows.
    base = hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("h"), *gcols
    )
    if persist:
        base = _persist(base)

    def band_key(i: int):
        return F.shiftright("h", i * band_bits).bitwiseAND(F.lit(mask))

    exacts = base.select(
        "doc_id",
        "h",
        *gcols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), band_key(i).alias("key"))
                    for i in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "h", *gcols, "bk.band", "bk.key")
    if radius == 0:
        probes = exacts
    else:
        probes = base.select(
            "doc_id",
            "h",
            *gcols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            (
                                band_key(i)
                                if j < 0
                                else band_key(i).bitwiseXOR(F.lit(1 << j))
                            ).alias("key"),
                        )
                        for i in range(num_bands)
                        for j in range(-1, band_bits)
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "h", *gcols, "bk.band", "bk.key")
    # the flip relation is symmetric, so requiring probe-side id <
    # exact-side id still sees every qualifying pair exactly once per
    # colliding (band, key)
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for g in gcols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    return (
        probes.alias("a")
        .join(exacts.alias("b"), cond)
        .select(
            *[F.col(f"a.{g}") for g in gcols],
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Video: per-sampled-frame dHash signatures + aligned near-dup pairs
# ---------------------------------------------------------------------------
def video_dhash_signatures(
    df: DataFrame,
    every_k: int = 2,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    algo: str = "dhash",
) -> DataFrame:
    """Per-sampled-frame perceptual hashes over a binary video column
    (the length-prefixed PNGV/MJPG container
    ``multimodal.sample_video_frames`` walks): parse the container,
    decode frames 0, k, 2k, ... with the real PNG/JPEG codecs, and
    emit (doc_id, frame_idx, phash bigint, decode_ok) rows — the video
    analog of ``image_phash``.  Frames that are NOT sampled are never
    decoded (the length prefixes let the parser skip their bytes), so
    decode cost is proportional to sampled frames while I/O stays one
    container scan — the frame-sampling economics that make video
    fingerprinting viable at 100 TB.  An unparseable CONTAINER degrades
    to a single (doc_id, NULL, NULL, false) row; a corrupt individual
    FRAME degrades to its own flagged row while the remaining frames
    still decode (a one-frame glitch must not truncate the signature).
    No shuffle; payload bytes never leave their executor."""
    import struct

    import numpy as np
    import pandas as pd

    from .multimodal import _MJPG_MAGIC, _VID_MAGIC, decode_image

    hash_fn = {"dhash": dhash64_gray, "ahash": ahash64_gray}[algo]
    batch_fn = {"dhash": dhash64_batch, "ahash": ahash64_batch}[algo]

    def gen(batches):
        for pdf in batches:
            ids, frames, hashes, oks = [], [], [], []
            # decoded luma planes, grouped by shape, are hashed in
            # batched passes (r13, guide §4.2) — bit-identical to the
            # per-frame hash; output row order and the degrade contract
            # are unchanged (hashes are back-filled into pre-reserved
            # row slots).  Groups flush at _HASH_CHUNK planes so at
            # most one cache-sized chunk per shape is ever held (see
            # image_phash).
            by_shape: dict = {}

            def flush(idxs, lums):
                try:
                    hs = batch_fn(np.stack(lums)).tolist()
                except Exception:
                    hs = []
                    for lum in lums:
                        try:
                            hs.append(hash_fn(lum))
                        except Exception:
                            hs.append(None)
                for row_i, hv in zip(idxs, hs):
                    hashes[row_i] = hv
                    if hv is None:
                        oks[row_i] = False
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                doc_id = int(doc_id)
                # decode into a local list first, appending to the
                # output columns only complete rows: a mid-loop
                # exception between appends would leave the columns
                # ragged (pandas index-aligns unequal Series into a
                # phantom NULL-flagged row) and truncate the signature
                rows: list[tuple] = []
                lumas: list[tuple] = []  # (row offset in rows, luma)
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
                        try:
                            lumas.append(
                                (len(rows), luma_plane(decode_image(frame)))
                            )
                            rows.append((i, None, True))
                        except Exception:
                            # one bad frame: flag it, keep decoding
                            rows.append((i, None, False))
                except Exception:
                    rows = [(None, None, False)]
                    lumas = []
                base = len(ids)
                for frame_idx, h, ok in rows:
                    ids.append(doc_id)
                    frames.append(frame_idx)
                    hashes.append(h)
                    oks.append(ok)
                for off, lum in lumas:
                    idxs, lums = by_shape.setdefault(lum.shape, ([], []))
                    idxs.append(base + off)
                    lums.append(lum)
                    if len(lums) >= _HASH_CHUNK:
                        flush(idxs, lums)
                        idxs.clear()
                        lums.clear()
            for idxs, lums in by_shape.values():
                if lums:
                    flush(idxs, lums)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(frames, dtype="Int32"),
                    "phash": pd.Series(hashes, dtype="Int64"),
                    "decode_ok": pd.Series(oks, dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen,
        schema="doc_id bigint, frame_idx int, phash bigint, "
        "decode_ok boolean",
    )


def video_near_dup_pairs(
    sigs: DataFrame,
    max_hamming: int = 7,
    min_frac: float = 0.8,
    num_bands: int = 4,
) -> DataFrame:
    """Near-duplicate video pairs from a signature relation
    (doc_id, frame_idx, phash): per-frame Multi-Index-Hashing pairs
    (``phash_near_pairs`` grouped by frame_idx — the hamming<=
    ``max_hamming`` guarantee holds per frame), then a video pair is
    kept iff the matched-frame count covers >= ``min_frac`` of the
    LONGER signature (max of the two docs' sampled-frame counts, so a
    short clip cannot trivially cover a long one).

    Returns (doc_a, doc_b, n_matched int, match_frac, mean_hamming),
    doc_a < doc_b, fractions rounded to 6/2 dp.  Aligned-position
    matching (frame i vs frame i) — the time-shifted variant is the
    same join keyed on (frame_idx - offset) per candidate offset,
    which production would bound by a coarse container-duration
    prefilter."""
    from .dedup import _persist

    # the slim signature relation feeds three plan branches (MIH probe
    # + exact sides and the per-doc frame counts); persist it so the
    # frame decode scan upstream runs once (the payload relation is
    # never cached)
    base = _persist(
        sigs.where(F.col("phash").isNotNull()).select(
            "doc_id", "frame_idx", "phash"
        )
    )
    frame_pairs = phash_near_pairs(
        base,
        max_hamming=max_hamming,
        num_bands=num_bands,
        group_cols=("frame_idx",),
        persist=False,  # base is already cached above
    )
    counts = base.groupBy("doc_id").agg(F.count("*").alias("n_frames"))
    agg = frame_pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("int").alias("n_matched"),
        F.round(F.avg("hamming"), 2).alias("mean_hamming"),
    )
    return (
        agg.join(
            counts.withColumnsRenamed(
                {"doc_id": "doc_a", "n_frames": "n_a"}
            ),
            "doc_a",
        )
        .join(
            counts.withColumnsRenamed(
                {"doc_id": "doc_b", "n_frames": "n_b"}
            ),
            "doc_b",
        )
        .withColumn(
            "match_frac",
            F.round(
                F.col("n_matched") / F.greatest("n_a", "n_b"), 6
            ),
        )
        .filter(F.col("match_frac") >= min_frac)
        .select("doc_a", "doc_b", "n_matched", "match_frac", "mean_hamming")
    )


def build_video_container(frames: list[bytes]) -> bytes:
    """Length-prefixed video container from already-encoded frame
    payloads (PNG and/or JPEG, mixed freely — decode dispatches per
    frame): magic | u32 n_frames | (u32 len | frame_bytes)*.  The
    general-content twin of ``multimodal.synth_png_video_bytes`` /
    ``synth_mjpeg_video_bytes`` (which emit solid-color frames only)."""
    import struct

    from .multimodal import _VID_MAGIC

    out = bytearray(_VID_MAGIC + struct.pack(">I", len(frames)))
    for frame in frames:
        out += struct.pack(">I", len(frame)) + frame
    return bytes(out)
