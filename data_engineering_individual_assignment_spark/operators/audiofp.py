"""Audio perceptual fingerprinting + near-dup pairs: the audio-content
modality of the dedup lattice (text exact/near/sub-document in
``operators/dedup.py``, embedding cosine/SemDeDup/LSH in
``operators/similarity.py``, pixel content in ``operators/imagehash.py``;
this module closes the audio gap the same way imagehash closed images).

The fingerprint is the classic Haitsma–Kalker scheme (Haitsma &
Kalker, ISMIR 2002, "A Highly Robust Audio Fingerprint Based on Band
Energies"): decode the WAV (stdlib ``wave`` — the same real codec
``multimodal.decode_wav_features`` uses), frame the signal into
overlapping Hann-windowed windows, sum rFFT power into 33 log-spaced
frequency bands, and emit one 32-bit *sub-fingerprint* per frame
boundary whose bit m is the SIGN of the time–frequency second
difference ``(E[t,m]-E[t,m+1]) - (E[t-1,m]-E[t-1,m+1])``.

Why signs of differences: a gain change scales EVERY band energy by the
same factor, so every difference keeps its sign and the fingerprint is
EXACTLY invariant to volume changes — the analytic truth the tests pin.
Additive noise perturbs band energies slightly, flipping only bits whose
difference is near zero, so re-encoded/noisy copies land at a small
bit-error-rate while different material decorrelates to BER ~0.5.

Search follows the paper's economics, Spark-shaped: candidates are an
EQUI-JOIN on an exactly-matching (frame_idx, subfp) pair — a near-dup
copy almost surely contains at least one undamaged sub-fingerprint —
and only candidates pay the full aligned bit-error-rate verification.
At 100 TB: decode+FFT is a per-asset Arrow-batched mapInPandas (no
shuffle, payload bytes never leave their executor); only the slim
(id, frame, int32) relation enters the join; the verify leg is a
partial-aggregated groupBy over candidate-restricted frames.  Skew
guard (r13, guide §2.5): degenerate corpora (silence, test tones)
concentrate a few hub sub-fingerprints whose posting lists explode the
probe join ~|docs|² × 33; ``audio_near_dup_pairs`` therefore caps
posting lists the way the Jaccard family's rare-shingle prefix filter
does — a count aggregate over (frame_idx, subfp) drops keys whose
document frequency exceeds ``max_dfreq`` from the candidate join's
build side.  Verification is untouched, so every pair still found
keeps its exact BER; the default cap is far above any non-degenerate
corpus's collision rate (random 32-bit sub-fingerprints), so normal
outputs are bit-identical with or without the guard.

The reference has no audio operators (its media handling is YouTube
*metadata* rows only, e.g. Video_Data extraction at
``02_YouTube_API_Data_Extraction[F].py:43``); this family is part of
the beyond-reference LLM-pipeline surface the build contract names.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SR = 8000
FRAME = 512
HOP = 256
N_BANDS = 33
# stacked-FFT flush size (clips per rfft call): big enough that the
# vectorization win is saturated, small enough that the stacked frame
# matrix (~256 clips x ~13 frames x 512 bins) stays ~14 MB — an
# UNBOUNDED per-Arrow-batch stack holds every decoded waveform of a
# 10k-row batch (GBs per worker at scale) for no additional win
_FFT_CHUNK = 256
FMIN = 300.0
FMAX = 2000.0


# ---------------------------------------------------------------------------
# numpy-side primitives (importable + unit-testable without Spark)
# ---------------------------------------------------------------------------
def _band_edges(n_fft: int = FRAME, sr: int = SR):
    """rFFT bin index for each of the 34 log-spaced band edges."""
    import numpy as np

    freqs = FMIN * (FMAX / FMIN) ** (np.arange(N_BANDS + 1) / N_BANDS)
    return np.clip(
        np.round(freqs * n_fft / sr).astype(np.int64), 0, n_fft // 2
    )


def _to_signed32(h: int) -> int:
    return h - (1 << 32) if h >= (1 << 31) else h


def subfingerprints(x, sr: int = SR) -> list[int]:
    """Haitsma–Kalker sub-fingerprints of a float waveform in [-1, 1]:
    one SIGNED int32 per frame step t >= 1 (bit m set iff the band-
    energy second difference is > 0).  Pure float64 numpy throughout —
    deterministic for identical input."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    if len(x) < FRAME + HOP:
        return []
    n_frames = 1 + (len(x) - FRAME) // HOP
    idx = np.arange(FRAME)[None, :] + HOP * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(FRAME)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    edges = _band_edges(FRAME, sr)
    energy = np.stack(
        [
            power[:, edges[m] : max(edges[m + 1], edges[m] + 1)].sum(axis=1)
            for m in range(N_BANDS)
        ],
        axis=1,
    )
    diff = energy[:, :-1] - energy[:, 1:]  # (n_frames, 32)
    bits = (diff[1:] - diff[:-1]) > 0.0  # (n_frames-1, 32)
    packed = (bits.astype(np.int64) << np.arange(32, dtype=np.int64)).sum(
        axis=1
    )
    return [_to_signed32(int(v)) for v in packed]


def synth_audio(seed: int, duration_s: float = 0.5, sr: int = SR):
    """Deterministic BROADBAND test waveform: 48 md5-keyed sinusoids,
    one jittered into each of 48 log-spaced slots across [310, 1990]
    Hz, each amplitude-modulated at an md5-keyed 2–10 Hz rate.  Full
    band coverage is load-bearing the same way the image fixture's
    smoothness is: the fingerprint compares ADJACENT band energies, so
    any band left empty holds spectral-leakage junk whose difference
    sign flips under the slightest perturbation.  Measured while
    tuning: a narrow-band chirp fixture put additive noise at BER
    ~0.4 (indistinguishable from distinct material), 16 sparse tones
    at ~0.15 with zero clean sub-fingerprints, while this dense synth
    lands at the paper's regime (noise BER ≤ 0.02, ≥ 10 of 13 frames
    within 1 bit, distinct ≥ 0.39).  The AM gives every frame
    time-varying structure, so the time-difference bits carry signal
    too."""
    import numpy as np

    n_comp = 48
    t = np.arange(int(duration_s * sr), dtype=np.float64) / sr
    x = np.zeros_like(t)
    for i in range(n_comp):
        d = hashlib.md5(f"aud-{seed}-{i}".encode()).digest()
        lo = 310.0 * (1990.0 / 310.0) ** (i / n_comp)
        hi = 310.0 * (1990.0 / 310.0) ** ((i + 1) / n_comp)
        freq = lo + (hi - lo) * d[0] / 255.0
        amp = (0.3 + 0.7 * d[2] / 255.0) / n_comp
        fm = 2.0 + 8.0 * d[3] / 255.0
        ph = 2.0 * np.pi * d[4] / 255.0
        phm = 2.0 * np.pi * d[5] / 255.0
        x += (
            amp
            * (1.0 + 0.8 * np.sin(2.0 * np.pi * fm * t + phm))
            * np.sin(2.0 * np.pi * freq * t + ph)
        )
    return x


def synth_noise(seed: int, n: int, amplitude: float):
    """Deterministic md5-keyed noise in [-amplitude, amplitude] (16
    bytes of digest per 16 samples mapped to uniform levels)."""
    import numpy as np

    out = np.empty(n, dtype=np.float64)
    for i in range(0, n, 16):
        d = hashlib.md5(f"noise-{seed}-{i // 16}".encode()).digest()
        block = np.frombuffer(d, dtype=np.uint8).astype(np.float64)
        k = min(16, n - i)
        out[i : i + k] = (block[:k] / 127.5 - 1.0) * amplitude
    return out


def encode_wav(x, sr: int = SR) -> bytes:
    """16-bit mono PCM WAV bytes from a float waveform in [-1, 1]
    (values clipped) — the arbitrary-content twin of
    ``multimodal.synth_wav_bytes`` (which emits pure sines only).
    Real RIFF container, byte-identical for identical input."""
    import io
    import wave

    import numpy as np

    samples = (
        np.clip(np.asarray(x, dtype=np.float64), -1.0, 1.0) * 32767.0
    ).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def audio_fingerprints(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Decode a binary WAV column (16-bit mono PCM, stdlib ``wave``)
    and emit (doc_id, frame_idx, subfp int) sub-fingerprint rows in
    Arrow-batched mapInPandas.  Corrupt payloads degrade to a single
    (doc_id, NULL, NULL) row flagged decode_ok=false — one bad asset
    must not kill a 100 TB scan.  No shuffle; payload bytes never
    leave their executor.

    The FFT is batched ACROSS documents (r13, guide §4.2/§4.5): decoded
    clips' Hann-windowed frames are stacked per sample-rate group and
    transformed with one ``rfft`` call per stack, and the per-batch
    constants (Hann window, band-edge bins per sample rate) are hoisted
    to once-per-task state.  Groups FLUSH at ``_FFT_CHUNK`` clips so at
    most one cache-sized chunk of decoded waveforms/frame matrices is
    ever held (an Arrow batch is 10k rows at scale; stacking ALL of it
    would pin ~GBs of temporaries per worker for zero additional
    vectorization win — the image-hash chunking lesson).  Each row's
    transform is independent, so the stacked results are bit-identical
    to the per-doc ``subfingerprints`` reference the tests pin."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    def gen(batches):
        hann = np.hanning(FRAME)
        edges_by_sr: dict[int, np.ndarray] = {}
        shifts = np.arange(32, dtype=np.int64)
        for pdf in batches:
            ids, frames, fps, oks = [], [], [], []

            # FFT flush: one stacked rfft + band-sum per clip chunk
            def flush(sr, clips):
                edges = edges_by_sr.get(sr)
                if edges is None:
                    edges = edges_by_sr[sr] = _band_edges(FRAME, sr)
                mats, bounds, off = [], [], 0
                for _doc_id, x in clips:
                    n_frames = 1 + (len(x) - FRAME) // HOP
                    idx = (
                        np.arange(FRAME)[None, :]
                        + HOP * np.arange(n_frames)[:, None]
                    )
                    mats.append(x[idx])
                    bounds.append((off, off + n_frames))
                    off += n_frames
                stacked = np.concatenate(mats, axis=0) * hann[None, :]
                power = np.abs(np.fft.rfft(stacked, axis=1)) ** 2
                energy = np.stack(
                    [
                        power[:, edges[m] : max(edges[m + 1], edges[m] + 1)].sum(
                            axis=1
                        )
                        for m in range(N_BANDS)
                    ],
                    axis=1,
                )
                diff = energy[:, :-1] - energy[:, 1:]  # (total_frames, 32)
                for (doc_id, _x), (s, e) in zip(clips, bounds):
                    bits = (diff[s + 1 : e] - diff[s : e - 1]) > 0.0
                    packed = (bits.astype(np.int64) << shifts).sum(axis=1)
                    for t, v in enumerate(packed):
                        ids.append(doc_id)
                        frames.append(t)
                        fps.append(_to_signed32(int(v)))
                        oks.append(True)

            # decode pass: per-doc container parse (unavoidable), clips
            # grouped by sample rate for the stacked transform
            by_sr: dict[int, list[tuple[int, np.ndarray]]] = {}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                doc_id = int(doc_id)
                try:
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                        if w.getsampwidth() != 2 or w.getnchannels() != 1:
                            raise ValueError("only 16-bit mono supported")
                        sr = w.getframerate()
                        raw = w.readframes(w.getnframes())
                    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                    x /= 32767.0
                except Exception:
                    ids.append(doc_id)
                    frames.append(None)
                    fps.append(None)
                    oks.append(False)
                    continue
                # the chunk flush stays outside the per-doc try: a transform
                # error is not this doc's decode failure, and must not leave
                # the chunk queued for a second flush
                if len(x) >= FRAME + HOP:  # else: zero subfps, no rows
                    clips = by_sr.setdefault(int(sr), [])
                    clips.append((doc_id, x))
                    if len(clips) >= _FFT_CHUNK:
                        flush(int(sr), clips)
                        clips.clear()
            for sr, clips in by_sr.items():
                if clips:
                    flush(sr, clips)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(frames, dtype="Int32"),
                    "subfp": pd.Series(fps, dtype="Int32"),
                    "decode_ok": pd.Series(oks, dtype="bool"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        gen, schema="doc_id bigint, frame_idx int, subfp int, decode_ok boolean"
    )


def audio_near_dup_pairs(
    fps: DataFrame,
    max_ber: float = 0.25,
    probe_bits: int = 1,
    max_dfreq: int | None = 1024,
) -> DataFrame:
    """Near-duplicate audio pairs from a sub-fingerprint relation
    (doc_id, frame_idx, subfp): candidates are doc pairs sharing at
    least one (frame_idx, subfp) within ``probe_bits`` hamming — the
    Haitsma–Kalker search step as an equi-join, with the paper's
    "flip the unreliable bits" probing realized as exhaustive 1-bit
    perturbation (33 probe keys per frame at probe_bits=1, same trick
    as imagehash's Multi-Index Hashing): a copy is found iff ANY of
    its frames survived with <= probe_bits bit errors, which the dense
    measurement above puts at >= 10 of 13 frames for the planted
    variants.  Each candidate pair then pays one aligned verification
    pass: BER = mean over common frames of popcount(a XOR b)/32, kept
    iff <= ``max_ber``.

    Returns (doc_a, doc_b, n_frames int, exact_matches int, ber),
    doc_a < doc_b, ber rounded to 6 dp.  Entirely JVM-side after the
    fingerprint scan; the verify join is candidate-restricted (a
    semi-join reduces each side to candidate docs before the aligned
    frame join).

    ``max_dfreq`` is the hub-key skew guard (module docstring): keys
    shared by more than that many documents are dropped from the
    candidate join's BUILD side (an anti-join against a tiny count-
    aggregate hub list), bounding the join fan-out by max_dfreq per
    key instead of |corpus|.  A pair discoverable ONLY via hub keys is
    skipped — the documented trade on degenerate corpora; keys that
    common carry no discriminative signal (a silence frame matches
    every silent doc).  ``None`` disables the guard."""
    if probe_bits not in (0, 1):
        raise ValueError("probe_bits > 1 explodes 529x; use 0 or 1")
    from .dedup import _persist

    # the slim (id, frame, int32) relation feeds FOUR plan branches
    # (probes, exact side, and both verify sides); without a persist
    # each branch re-executes the decode+FFT scan upstream — measured
    # 14.0 -> 4.0 s at sf0.01 on the catalog fixture.  At 100 TB this
    # is the "materialize fingerprints once" step of any audio-dedup
    # pipeline; the payload relation is never cached.
    base = _persist(
        fps.where(F.col("subfp").isNotNull()).select(
            "doc_id", "frame_idx", "subfp"
        )
    )
    if probe_bits == 0:
        probes = base
    else:
        # flip relation is symmetric: probe-side XOR masks cover every
        # pair within 1 bit even though the exact side emits no probes
        probes = base.select(
            "doc_id",
            "frame_idx",
            F.explode(
                F.array(
                    F.col("subfp"),
                    *[
                        F.col("subfp").bitwiseXOR(F.lit(_to_signed32(1 << j)))
                        for j in range(32)
                    ],
                )
            ).alias("subfp"),
        )
    # hub-key posting-list cap (module docstring / guide §2.5): the
    # candidate join's build side drops (frame_idx, subfp) keys whose
    # document frequency exceeds max_dfreq.  The hub list is a count
    # aggregate over the already-persisted base — metadata-sized (keys
    # above the cap are by construction few) — and broadcast for an
    # anti hash join that never shuffles base.
    if max_dfreq is not None:
        hubs = (
            base.groupBy("frame_idx", "subfp")
            .agg(F.count("*").alias("dfreq"))
            .filter(F.col("dfreq") > max_dfreq)
            .select("frame_idx", "subfp")
        )
        build = base.join(
            F.broadcast(hubs), ["frame_idx", "subfp"], "left_anti"
        )
    else:
        build = base
    # the candidate pair set feeds three plan branches (both semi-join
    # doc filters and the aligned join itself) — persist it too, or
    # the 33x-explode probe join + distinct re-executes per branch
    cand = _persist(
        probes.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.subfp") == F.col("b.subfp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # verify only candidate docs: restrict each side, then align frames
    docs_a = cand.select(F.col("doc_a").alias("doc_id")).distinct()
    docs_b = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    left = base.join(docs_a, "doc_id", "left_semi").withColumnsRenamed(
        {"doc_id": "doc_a", "subfp": "fp_a"}
    )
    right = base.join(docs_b, "doc_id", "left_semi").withColumnsRenamed(
        {"doc_id": "doc_b", "subfp": "fp_b"}
    )
    aligned = cand.join(left, "doc_a").join(right, ["doc_b", "frame_idx"])
    return (
        aligned.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("int").alias("n_frames"),
            F.sum(
                (F.col("fp_a") == F.col("fp_b")).cast("int")
            ).cast("int").alias("exact_matches"),
            # bit_count SIGN-EXTENDS int32 to bigint (bit_count(-1 as
            # int) = 64, measured), so a frame pair whose XOR has the
            # sign bit set would count 32 phantom bits — mask to the
            # low 32 before counting
            F.round(
                F.avg(
                    F.bit_count(
                        F.col("fp_a")
                        .bitwiseXOR(F.col("fp_b"))
                        .bitwiseAND(F.lit(0xFFFFFFFF))
                    )
                )
                / 32.0,
                6,
            ).alias("ber"),
        )
        .filter(F.col("ber") <= max_ber)
    )
