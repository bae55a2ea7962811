"""Perceptual audio dedup: Haitsma–Kalker band-energy sub-fingerprints
over the real stdlib WAV codec plus the probe-join search
(operators/audiofp.py).

Strategy mirrors the image family: the numpy primitives are pinned
against analytic ground truth (gain invariance is EXACT in pure float —
every band-energy difference keeps its sign under a positive scale),
the Spark search is differentially tested against a brute-force
all-pairs bit-error-rate scan, and the catalog query's planted-clone
pair set is pinned exactly (gain / noise / gain+noise clones MUST pair;
distinct broadband material MUST NOT)."""

from __future__ import annotations

import numpy as np
import pytest

from data_engineering_individual_assignment_spark.operators.audiofp import (
    FRAME,
    HOP,
    audio_fingerprints,
    audio_near_dup_pairs,
    encode_wav,
    subfingerprints,
    synth_audio,
    synth_noise,
)

from .conftest import SF_SMALL


def _ber(a: list[int], b: list[int]) -> float:
    assert len(a) == len(b) and a
    return sum(
        bin((x ^ y) & 0xFFFFFFFF).count("1") for x, y in zip(a, b)
    ) / (32.0 * len(a))


def _min_ham(a: list[int], b: list[int]) -> int:
    return min(
        bin((x ^ y) & 0xFFFFFFFF).count("1") for x, y in zip(a, b)
    )


def _decode(payload: bytes) -> np.ndarray:
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        raw = w.readframes(w.getnframes())
    return np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32767.0


# ---------------------------------------------------------------------------
# numpy primitives: analytic ground truth
# ---------------------------------------------------------------------------
def test_subfingerprint_count():
    x = synth_audio(0)
    assert len(subfingerprints(x)) == (len(x) - FRAME) // HOP
    assert subfingerprints(np.zeros(10)) == []


def test_gain_invariance_is_exact_in_pure_float():
    """A gain scales every band energy by g^2 > 0, so every difference
    keeps its sign: the fingerprint is IDENTICAL, not merely close."""
    for s in range(8):
        x = synth_audio(s)
        fp = subfingerprints(x)
        for g in (0.25, 0.8, 1.2, 4.0):
            assert subfingerprints(g * x) == fp, (s, g)


def test_encode_wav_roundtrip_within_one_lsb():
    x = synth_audio(5) * 0.4
    back = _decode(encode_wav(x))
    assert len(back) == len(x)
    assert np.abs(back - x).max() <= 1.0 / 32767.0 + 1e-12


def test_fixture_margins_variants_vs_distinct():
    """The margins the catalog threshold (BER 0.25) rests on, measured
    through the REAL int16 WAV round trip: gain stays within a couple
    of quantization-induced bit flips, noise variants land at the
    paper's small-BER regime with at least one probe-reachable frame,
    distinct broadband clips decorrelate far beyond the threshold."""
    for s in range(24):
        x = synth_audio(s) * 0.4
        fp = subfingerprints(_decode(encode_wav(x)))
        g = subfingerprints(_decode(encode_wav(0.8 * x)))
        assert _ber(fp, g) <= 0.01, s
        nz = subfingerprints(
            _decode(encode_wav(x + 0.4 * synth_noise(s, len(x), 0.005)))
        )
        assert _ber(fp, nz) <= 0.05, s
        assert _min_ham(fp, nz) <= 1, s  # candidate join reaches it
        d = subfingerprints(_decode(encode_wav(synth_audio(s + 7777) * 0.4)))
        assert _ber(fp, d) >= 0.3, s


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def fp_df(spark):
    """16 clips (8 bases + 4 noisy copies + 4 distinct) + 1 corrupt
    payload, fingerprinted through the Spark path."""
    import pandas as pd

    rows = []
    for s in range(8):
        x = synth_audio(s) * 0.4
        rows.append((s * 10, encode_wav(x)))
        if s % 2 == 0:
            rows.append(
                (
                    s * 10 + 1,
                    encode_wav(x + 0.4 * synth_noise(s, len(x), 0.005)),
                )
            )
        else:
            rows.append((s * 10 + 2, encode_wav(synth_audio(s + 500) * 0.4)))
    rows.append((999, b"not audio"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "payload"])
    return audio_fingerprints(spark.createDataFrame(pdf)).cache()


def test_audio_fingerprints_match_local_and_degrade(fp_df):
    rows = fp_df.collect()
    bad = [r for r in rows if r.doc_id == 999]
    assert len(bad) == 1 and bad[0].subfp is None and not bad[0].decode_ok
    got = {}
    for r in rows:
        if r.doc_id != 999:
            got.setdefault(r.doc_id, {})[r.frame_idx] = r.subfp
    x = synth_audio(3) * 0.4
    expect = subfingerprints(_decode(encode_wav(x)))
    assert [got[30][t] for t in range(len(expect))] == expect


def test_audio_near_dup_pairs_matches_brute_force(fp_df):
    """Probe-join candidates + aligned verify == brute force: exactly
    the pairs with at least one frame within probe_bits hamming AND
    BER <= max_ber, at both probe settings."""
    sigs = {}
    for r in fp_df.collect():
        if r.subfp is not None:
            sigs.setdefault(r.doc_id, {})[r.frame_idx] = r.subfp
    seqs = {
        d: [fr[t] for t in sorted(fr)] for d, fr in sigs.items()
    }
    ids = sorted(seqs)
    for probe_bits, max_ber in ((1, 0.25), (0, 0.25), (1, 0.05)):
        got = {
            (r.doc_a, r.doc_b): (r.n_frames, r.exact_matches, r.ber)
            for r in audio_near_dup_pairs(
                fp_df, max_ber=max_ber, probe_bits=probe_bits
            ).collect()
        }
        expect = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if _min_ham(seqs[a], seqs[b]) > probe_bits:
                    continue
                ber = round(_ber(seqs[a], seqs[b]), 6)
                if ber <= max_ber:
                    expect[(a, b)] = (
                        len(seqs[a]),
                        sum(
                            1 for x, y in zip(seqs[a], seqs[b]) if x == y
                        ),
                        ber,
                    )
        assert got == expect, (probe_bits, max_ber)


def test_audio_near_dup_pairs_radius2_rejected(fp_df):
    with pytest.raises(ValueError, match="probe"):
        audio_near_dup_pairs(fp_df, probe_bits=2)


def test_catalog_query_planted_pairs_exact(spark):
    """The catalog entry matches the LOCAL REFERENCE pair set exactly
    on the real sf0.001 documents table: every planted (base, variant)
    pair — the measured margins put ALL of them under the threshold
    with a probe-reachable frame — and NOTHING else: zero cross-clip
    pairs."""
    from data_engineering_individual_assignment_spark.plans import CATALOG
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    rows = CATALOG["audio_near_dup_fingerprint"].fn(spark, SF_SMALL).collect()
    got = {(r.doc_a, r.doc_b): r.ber for r in rows}

    doc_ids = [
        r.doc_id
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id")
        .collect()
    ]
    expect, planted = {}, 0
    for d in doc_ids:
        v = d % 4
        if v == 0:
            continue
        planted += 1
        x = synth_audio(d) * 0.4
        fp = subfingerprints(_decode(encode_wav(x)))
        if v == 1:
            variant = 0.8 * x
        elif v == 2:
            variant = x + 0.4 * synth_noise(d, len(x), 0.005)
        else:
            variant = 1.2 * x + 0.4 * synth_noise(d + 9999, len(x), 0.003)
        fv = subfingerprints(_decode(encode_wav(variant)))
        ber = round(_ber(fp, fv), 6)
        if ber <= 0.25 and _min_ham(fp, fv) <= 1:
            expect[(d * 10, d * 10 + v)] = ber
    assert got == expect
    assert len(expect) == planted  # 100% planted recall at these margins
    assert all(a < b for a, b in got)


def test_hub_key_cap_guards_degenerate_corpus(spark, fp_df):
    """The max_dfreq posting-list cap (the skew guard the module
    docstring promises): a degenerate corpus of N identical-fingerprint
    clips (silence) pairs quadratically without the guard; with the cap
    the hub (frame_idx, subfp) keys are dropped from the candidate
    join's build side, so the probe join never explodes.  On the
    normal fixture corpus the default cap changes nothing — output is
    bit-identical with the guard on, off, and at max_dfreq=None."""
    import pandas as pd

    from data_engineering_individual_assignment_spark.operators.dedup import (
        release_intermediates,
    )

    n = 12
    silence = encode_wav(np.zeros(FRAME + HOP * 14))
    pdf = pd.DataFrame(
        {"doc_id": pd.Series(range(n), dtype="int64"), "payload": [silence] * n}
    )
    fps = audio_fingerprints(spark.createDataFrame(pdf))
    # without the guard: every pair is BER 0 -> quadratic output
    uncapped = audio_near_dup_pairs(fps, max_dfreq=None).count()
    release_intermediates()
    assert uncapped == n * (n - 1) // 2
    # with the cap below the corpus size: every key is a hub -> zero
    # candidates, the 33x probe join has an empty build side
    capped = audio_near_dup_pairs(fps, max_dfreq=n - 1).count()
    release_intermediates()
    assert capped == 0
    # non-degenerate corpus: the default cap is far above any real
    # document frequency, so results are identical to the uncapped run
    with_guard = sorted(
        map(tuple, audio_near_dup_pairs(fp_df).collect())
    )
    release_intermediates()
    without_guard = sorted(
        map(tuple, audio_near_dup_pairs(fp_df, max_dfreq=None).collect())
    )
    release_intermediates()
    assert with_guard == without_guard and with_guard


def test_fft_chunking_boundary(spark):
    """The stacked-FFT flush at _FFT_CHUNK clips must not change any
    sub-fingerprint: a corpus crossing the chunk boundary inside one
    Arrow batch matches the per-doc subfingerprints reference."""
    import numpy as np
    import pandas as pd

    from data_engineering_individual_assignment_spark.operators.audiofp import (
        _FFT_CHUNK,
        FRAME,
        HOP,
        SR,
    )

    n = _FFT_CHUNK + 7
    rng = np.random.RandomState(5)
    waves = [rng.uniform(-0.5, 0.5, FRAME + 3 * HOP) for _ in range(n)]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(range(n), dtype="int64"),
            "payload": [encode_wav(x) for x in waves],
        }
    )
    got = {
        (r.doc_id, r.frame_idx): r.subfp
        for r in audio_fingerprints(
            spark.createDataFrame(pdf).coalesce(1)
        ).collect()
    }
    expect = {}
    for i, x in enumerate(waves):
        # the encoder quantizes to int16; reference must see the same
        q = np.clip(x, -1.0, 1.0)
        q = (q * 32767.0).astype("<i2").astype(np.float64) / 32767.0
        for t, sub in enumerate(subfingerprints(q, SR)):
            expect[(i, t)] = sub
    assert got == expect and len(expect) > n
