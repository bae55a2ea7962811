"""Perceptual image dedup: dHash/aHash over the real stdlib codecs plus
the Multi-Index-Hashing hamming join (operators/imagehash.py).

Strategy mirrors the other non-SQL-expressible families: the numpy
primitives are pinned against analytic ground truth, the Spark join is
differentially tested against a brute-force all-pairs scan, and the
catalog query's planted-clone pair set is pinned exactly (re-encoded /
brightness-shifted / 1-px-cropped clones MUST pair; distinct textures
MUST NOT)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineering_individual_assignment_spark.operators.imagehash import (
    ahash64_gray,
    area_resize,
    dhash64_gray,
    image_phash,
    luma_plane,
    phash_near_pairs,
    synth_texture_gray,
)
from data_engineering_individual_assignment_spark.operators.multimodal import (
    decode_image,
    decode_png,
    encode_jpeg_planes,
    encode_png_gray,
)

from .conftest import SF_SMALL


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# ---------------------------------------------------------------------------
# numpy primitives: analytic ground truth
# ---------------------------------------------------------------------------
def test_area_resize_divisible_is_exact_block_mean():
    g = np.arange(64, dtype=np.float64).reshape(8, 8)
    out = area_resize(g, 4, 4)
    expect = g.reshape(4, 2, 4, 2).mean(axis=(1, 3))
    np.testing.assert_allclose(out, expect, atol=1e-9)


def test_area_resize_fractional_preserves_total_mass():
    # area-average resize preserves the image mean exactly (the boxes
    # tile the source with fractional edge weights summing to area)
    rng = [synth_texture_gray(s, 32) for s in range(3)]
    for g in rng:
        out = area_resize(g, 8, 9)  # 32/9 is fractional
        assert abs(out.mean() - g.mean()) < 1e-9


def test_area_resize_constant_image_is_constant():
    g = np.full((31, 17), 42.5)
    out = area_resize(g, 8, 9)
    np.testing.assert_allclose(out, 42.5, atol=1e-9)


def test_dhash_brightness_invariant_and_gradient_sensitive():
    g = synth_texture_gray(7, 64)
    # monotone per-pixel shifts preserve neighbor orderings exactly
    assert dhash64_gray(g) == dhash64_gray(g + 31.0)
    assert dhash64_gray(g) == dhash64_gray(g * 1.5)
    # mirroring flips every gradient comparison with a strict order
    h_fwd = dhash64_gray(g)
    h_rev = dhash64_gray(g[:, ::-1])
    assert _ham(h_fwd, h_rev) > 32  # mostly-inverted bits


def test_dhash_analytic_ramp():
    # strictly increasing horizontal ramp -> every right neighbor is
    # brighter -> all 64 bits set -> signed int64 -1
    ramp = np.tile(np.arange(72, dtype=np.float64), (8, 1))
    assert dhash64_gray(ramp) == -1
    # strictly decreasing -> no bit set
    assert dhash64_gray(ramp[:, ::-1]) == 0


def test_ahash_analytic_half_dark_half_bright():
    g = np.zeros((8, 8))
    g[:, 4:] = 200.0
    h = ahash64_gray(g)
    # right half above mean: bits where col >= 4
    expect = sum(
        1 << (r * 8 + c) for r in range(8) for c in range(8) if c >= 4
    )
    assert h == expect - (1 << 64)  # signed-int64 domain (bit 63 is set)


def test_encode_png_gray_roundtrip_bit_exact():
    g = synth_texture_gray(3, 32)
    img = decode_png(encode_png_gray(g))
    assert (img["width"], img["height"], img["channels"]) == (32, 32, 1)
    np.testing.assert_array_equal(
        np.asarray(img["pixels"]).reshape(32, 32),
        np.clip(np.rint(g), 0, 255).astype(np.uint8),
    )


def _fixture_variant(d: int):
    """(variant_payload or None) replicating the catalog fixture."""
    g = synth_texture_gray(d, 64)
    v = d % 4
    if v == 1:
        return encode_png_gray(g + 12.0)
    if v == 2:
        return encode_png_gray(g[:, 1:])
    if v == 3:
        return encode_jpeg_planes(
            [g, np.full_like(g, 128.0), np.full_like(g, 128.0)],
            64, 64, subsample=True,
        )
    return None


def _fixture_hash(payload: bytes) -> int:
    return dhash64_gray(luma_plane(decode_image(payload)))


def test_fixture_margins_variants_vs_distinct():
    """The margins the catalog threshold (7) rests on: brightness and
    JPEG variants always pair, 1-px crops pair for the overwhelming
    majority of textures (>= 98% here; the documented residual is the
    crop sensitivity inherent to 64-bit dHash), distinct textures stay
    strictly beyond the threshold."""
    hashes, crop_miss, n_crop = {}, 0, 0
    for d in range(48):
        g = synth_texture_gray(d, 64)
        hb = _fixture_hash(encode_png_gray(g))
        hashes[d] = hb
        payload = _fixture_variant(d)
        if payload is None:
            continue
        hd = _ham(hb, _fixture_hash(payload))
        if d % 4 == 2:
            n_crop += 1
            crop_miss += hd > 7
        else:
            assert hd <= 4, (d, d % 4, hd)
    assert crop_miss <= max(1, n_crop // 12)  # >= ~92% crop recall here
    ids = sorted(hashes)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            assert _ham(hashes[ids[i]], hashes[ids[j]]) > 7, (ids[i], ids[j])


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def hash_df(spark):
    """40 textures + 1 corrupt payload, hashed through the Spark path."""
    import pandas as pd

    rows = [(d, encode_png_gray(synth_texture_gray(d, 64))) for d in range(40)]
    rows.append((999, b"not an image"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "payload"])
    return image_phash(spark.createDataFrame(pdf)).cache()


def test_image_phash_matches_local_and_degrades(hash_df):
    got = {r.doc_id: (r.phash, r.decode_ok) for r in hash_df.collect()}
    assert got[999] == (None, False)
    for d in range(40):
        expect = dhash64_gray(
            luma_plane(decode_image(encode_png_gray(synth_texture_gray(d, 64))))
        )
        assert got[d] == (expect, True), d


def test_phash_near_pairs_matches_brute_force(spark, hash_df):
    """MIH candidates + verify == brute-force all-pairs at several
    thresholds (the guarantee: no pair within max_hamming is missed)."""
    hashes = {r.doc_id: r.phash for r in hash_df.collect() if r.decode_ok}
    for max_h, bands in ((3, 4), (7, 4), (7, 8), (15, 8)):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in phash_near_pairs(
                hash_df.where("decode_ok"), max_hamming=max_h, num_bands=bands
            ).collect()
        }
        ids = sorted(hashes)
        expect = {
            (a, b, _ham(hashes[a], hashes[b]))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if _ham(hashes[a], hashes[b]) <= max_h
        }
        assert got == expect, (max_h, bands)


def test_phash_near_pairs_radius2_rejected(hash_df):
    with pytest.raises(ValueError, match="probe"):
        phash_near_pairs(hash_df, max_hamming=8, num_bands=4)


def test_catalog_query_planted_pairs_exact(spark):
    """The catalog entry matches the LOCAL REFERENCE pair set exactly on
    the real sf0.001 documents table: every planted (base, variant)
    pair whose reference hamming is <= 7 (all brightness/JPEG variants
    and >= 95% of crops), and NOTHING else — zero cross-texture pairs."""
    from data_engineering_individual_assignment_spark.plans import CATALOG
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    rows = CATALOG["image_near_dup_phash"].fn(spark, SF_SMALL).collect()
    got = {(r.asset_a, r.asset_b): r.hamming for r in rows}

    doc_ids = [
        r.doc_id
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id")
        .collect()
    ]
    expect, planted = {}, 0
    for d in doc_ids:
        payload = _fixture_variant(d)
        if payload is None:
            continue
        planted += 1
        g = synth_texture_gray(d, 64)
        hd = _ham(_fixture_hash(encode_png_gray(g)), _fixture_hash(payload))
        if hd <= 7:
            expect[(d * 10, d * 10 + d % 4)] = hd
    assert got == expect
    assert len(expect) >= 0.95 * planted  # overall planted-pair recall
    assert all(a < b for a, b in got)


def test_jpeg_codec_restart_interval_roundtrip():
    """r13 codec contract: (a) restart-marker streams decode — the
    pre-r13 reader raised a spurious 'exhausted' whenever a restart
    segment ended flush with its bit read-ahead (resync_restart only
    consumed a marker _fill had already flagged); (b) a restart stream
    decodes to EXACTLY the pixels of the restart-free stream of the
    same planes (restarts change framing, never coefficients); (c) the
    r13 LUT huffman + batched DCT/IDCT paths roundtrip content of all
    shapes (odd sizes exercise edge-MCU padding)."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_planes,
    )

    for h, w in ((32, 32), (33, 31), (24, 40)):
        g = np.tile(synth_texture_gray(h * 100 + w, 64), (2, 2))[:h, :w]
        planes = [g, np.full_like(g, 128.0), np.full_like(g, 100.0)]
        for sub in (False, True):
            base = decode_jpeg(encode_jpeg_planes(planes, w, h, subsample=sub))
            for ri in (1, 2, 5):
                img = decode_jpeg(
                    encode_jpeg_planes(
                        planes, w, h, subsample=sub, restart_interval=ri
                    )
                )
                assert img["pixels"].tobytes() == base["pixels"].tobytes(), (
                    h, w, sub, ri,
                )


def test_jpeg_over_subscribed_dht_raises():
    """A DHT declaring more codes of some length than fit is malformed:
    the LUT builder and the decoder must raise, not grow the table past
    its 16-bit window.  Complete tables are still accepted."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        _huff_lut,
        decode_jpeg,
    )

    assert len(_huff_lut([2] + [0] * 15, [1, 2])) == 65536
    with pytest.raises(ValueError, match="invalid DHT"):
        _huff_lut([3] + [0] * 15, [1, 2, 3])

    g = synth_texture_gray(7, 16)
    planes = [g, np.full_like(g, 128.0), np.full_like(g, 100.0)]
    payload = bytearray(encode_jpeg_planes(planes, 16, 16))
    decode_jpeg(bytes(payload))
    # first DHT: marker, 2-byte length, class/id byte, then 16 counts;
    # moving every code to length 1 keeps the segment length valid
    counts_at = payload.index(b"\xff\xc4") + 5
    n = sum(payload[counts_at : counts_at + 16])
    assert n > 2
    payload[counts_at : counts_at + 16] = bytes([n] + [0] * 15)
    with pytest.raises(ValueError, match="invalid DHT"):
        decode_jpeg(bytes(payload))


def test_jpeg_bit_reader_stays_bounded(monkeypatch):
    """Decoding a multi-KB entropy segment must keep the bit reader's
    accumulator at most one fill wide (<= 32 bits after a fill), not a
    bignum holding every byte read so far, whose shifts make the decode
    quadratic in segment size."""
    from data_engineering_individual_assignment_spark.operators import multimodal

    rng = np.random.default_rng(5)
    g = rng.uniform(0, 255, (64, 64))  # noise: long entropy segment
    planes = [g, np.full_like(g, 128.0), np.full_like(g, 100.0)]
    payload = encode_jpeg_planes(planes, 64, 64)
    assert len(payload) > 4096

    widest = [0]

    class _Probe(multimodal._BitReader):
        def _fill(self):
            super()._fill()
            widest[0] = max(widest[0], self.acc.bit_length())

    monkeypatch.setattr(multimodal, "_BitReader", _Probe)
    img = multimodal.decode_jpeg(payload)
    assert (img["width"], img["height"]) == (64, 64)
    assert 0 < widest[0] <= 32 + 8


def test_batch_hashes_match_per_image():
    """r13 batching contract: dhash64_batch / ahash64_batch over an
    (n, h, w) stack are bit-identical to the per-image hashes for any
    shape (the batched area_resize adds a leading axis to the same FP
    operations), including the sign-bit edge (all-ascending row packs
    bit 63 -> the int64 shift wraps to the signed value exactly like
    _to_signed64)."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.imagehash import (
        _area_resize_batch,
        ahash64_batch,
        dhash64_batch,
    )

    rng = np.random.RandomState(3)
    for h, w in ((8, 9), (32, 32), (64, 63), (17, 23)):
        imgs = [rng.uniform(0, 255, (h, w)) for _ in range(9)]
        if h == w and h % 8 == 0:
            imgs += [synth_texture_gray(i, h) for i in range(3)]
        st = np.stack(imgs)
        ref_r = np.stack([area_resize(g, 8, 9) for g in imgs])
        assert ref_r.tobytes() == _area_resize_batch(st, 8, 9).tobytes()
        assert [dhash64_gray(g) for g in imgs] == dhash64_batch(st).tolist()
        assert [ahash64_gray(g) for g in imgs] == ahash64_batch(st).tolist()
    asc = np.tile(np.linspace(0, 255, 9), (8, 1))
    assert dhash64_gray(asc) == -1 == dhash64_batch(np.stack([asc]))[0]


def test_batch_hash_chunking_boundary():
    """Hash batching flushes in _HASH_CHUNK chunks (an unbounded stack
    thrashes cache and would hold a whole Arrow batch's planes at
    scale); a stack crossing several chunk boundaries must still be
    bit-identical to the per-image hashes."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.imagehash import (
        _HASH_CHUNK,
        dhash64_batch,
    )

    rng = np.random.RandomState(11)
    n = 2 * _HASH_CHUNK + 37
    st = rng.uniform(0, 255, (n, 16, 16))
    assert dhash64_batch(st).tolist() == [dhash64_gray(g) for g in st]
