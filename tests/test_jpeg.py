"""Baseline JPEG codec (operators/jpeg.py, r6): round-trips across
sampling/restart/grayscale variants, spec conformance via an
independently hand-packed bitstream (the `_filtered_png` analog: the
decoder must agree with ITU-T T.81 as the test understands it, not just
with the module's own encoder), named stubs for the unimplemented JPEG
modes, and the mapInPandas magic-byte dispatch."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from lakehouse_adventureworks2022_spark.operators import multimodal
from lakehouse_adventureworks2022_spark.operators.jpeg import (
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.dstack(
        [
            xx * 255 / max(w - 1, 1),
            yy * 255 / max(h - 1, 1),
            (xx + yy) * 255 / max(w + h - 2, 1),
        ]
    ).astype(np.uint8)


def test_roundtrip_444_accuracy():
    img = _gradient(37, 53)
    for q, bound in [(95, 6), (85, 8), (50, 16)]:
        dec = decode_jpeg(encode_jpeg(img, quality=q))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(float) - img.astype(float))
        assert err.max() <= bound, (q, err.max())


def test_roundtrip_420_and_grayscale():
    img = _gradient(37, 53)
    dec = decode_jpeg(encode_jpeg(img, quality=85, subsampling="420"))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(float) - img.astype(float)).max() <= 16

    dg = decode_jpeg(encode_jpeg(img, quality=85, grayscale=True))
    luma = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    assert dg.shape == img.shape  # gray replicated to 3 channels
    assert np.array_equal(dg[:, :, 0], dg[:, :, 1])
    assert np.abs(dg[:, :, 0].astype(float) - luma).max() <= 6

    # 2-D input implies grayscale
    g2 = decode_jpeg(encode_jpeg(img[:, :, 1], quality=90))
    assert g2.shape == img.shape


def test_restart_markers_do_not_change_pixels():
    """Restart intervals only re-pack the entropy stream (byte-align +
    DC-prediction reset); the quantized coefficients — hence the decoded
    pixels — are bit-identical to the no-restart encoding."""
    img = _gradient(35, 41)
    base = decode_jpeg(encode_jpeg(img, quality=80))
    for ri in (1, 2, 3, 7):
        again = decode_jpeg(encode_jpeg(img, quality=80, restart_interval=ri))
        assert np.array_equal(base, again), ri
    b420 = decode_jpeg(encode_jpeg(img, quality=80, subsampling="420"))
    r420 = decode_jpeg(
        encode_jpeg(img, quality=80, subsampling="420", restart_interval=2)
    )
    assert np.array_equal(b420, r420)


def _canonical_codes(bits, vals):
    codes, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[i]] = (ln, code)
            code += 1
            i += 1
        code <<= 1
    return codes


def test_hand_packed_single_block_matches_spec_math():
    """Independently hand-pack a one-block grayscale scan (T.81 bit
    layout, Annex K.3 luma Huffman tables, a custom DQT whose zigzag
    payload slots are all distinct) and check the decoder reproduces the
    exact IDCT the spec prescribes — DQT zigzag ordering, EXTEND sign
    recovery and canonical Huffman assignment are each load-bearing."""
    # custom quant table: zigzag payload slot z holds value z + 1, so a
    # natural/zigzag mix-up in the decoder changes the dequantized AC
    qtab_zz = [z + 1 for z in range(64)]

    dc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)

    bitstream = []  # (length, code) pieces

    def put_val(v):  # DC diff / AC coefficient EXTEND encoding
        s = int(abs(v)).bit_length()
        d = v if v >= 0 else v + (1 << s) - 1
        return s, d & ((1 << s) - 1)

    # DC diff = -5 (pred 0), one AC at zigzag index 3 with value +7
    # (run of 2 zeros at zigzag 1..2), then EOB.
    s, d = put_val(-5)
    bitstream += [dc[s], (s, d)]
    s, d = put_val(7)
    bitstream += [ac[(2 << 4) | s], (s, d)]
    bitstream += [ac[0x00]]

    bits = "".join(format(code, f"0{ln}b") for ln, code in bitstream)
    bits += "1" * (-len(bits) % 8)
    payload = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    # byte-stuff any 0xFF
    payload = payload.replace(b"\xff", b"\xff\x00")

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    jpg = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes(qtab_zz))
        + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + payload
        + b"\xff\xd9"
    )

    # spec math: dequantize in zigzag order, scatter to natural order,
    # orthonormal IDCT, +128 level shift
    zz = np.zeros(64)
    zz[0] = -5 * qtab_zz[0]
    zz[3] = 7 * qtab_zz[3]
    nat = np.zeros(64)
    nat[np.array(ZIGZAG)] = zz
    k = np.arange(8)
    basis = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    alpha = np.full(8, np.sqrt(2.0 / 8.0))
    alpha[0] = np.sqrt(1.0 / 8.0)
    m = basis * alpha[None, :]
    expected = np.clip(m @ nat.reshape(8, 8) @ m.T + 128.0, 0, 255).astype(np.uint8)

    got = decode_jpeg(jpg)
    assert got.shape == (8, 8, 3)
    assert np.array_equal(got[:, :, 0], expected)


def test_named_stubs_and_malformed_input():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")
    # arithmetic-coded: SOF9
    arith = b"\xff\xd8\xff\xc9" + struct.pack(">H", 4) + b"\x00\x00"
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arith)
    # truncated SOF3 segment: a named ValueError, never struct.error
    # (the r7-close regression — half-landed SOF3 crashed here)
    lossless_trunc = b"\xff\xd8\xff\xc3" + struct.pack(">H", 4) + b"\x00\x00"
    with pytest.raises(ValueError, match="truncated SOF"):
        decode_jpeg(lossless_trunc)
    # lossless decodes at ANY T.81 precision 2-16 since r13 — only an
    # out-of-spec precision byte stays a named stub
    sof3_17bit = (
        b"\xff\xd8\xff\xc3"
        + struct.pack(">H", 11)
        + bytes([17])
        + struct.pack(">HH", 8, 8)
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="17-bit lossless"):
        decode_jpeg(sof3_17bit)
    # subsampled lossless: named stub
    sof3_sub = (
        b"\xff\xd8\xff\xc3"
        + struct.pack(">H", 17)
        + bytes([8])
        + struct.pack(">HH", 8, 8)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg(sof3_sub)
    # non-8/12 sample precision stays a named stub (12-bit DCT decodes
    # for real since r8 — see the extended-sequential tests below)
    sof10 = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([10])
        + struct.pack(">HH", 8, 8)
        + bytes([1, 1, 0x11, 0])
    )
    with pytest.raises(NotImplementedError, match="10-bit"):
        decode_jpeg(sof10)
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(_gradient(8, 8), subsampling="422")


def test_jpeg_assets_flow_through_real_feature_and_hash_paths(spark):
    """JPEG joins PPM/PNG in the magic-byte dispatch: same pixels as
    lossless PPM and as JPEG must land within lossy tolerance on
    features and within a few dHash bits (near-dup robustness)."""
    arr = _gradient(40, 30)
    assets = spark.createDataFrame(
        [
            (1, bytearray(multimodal.encode_ppm(arr)), "image/x-ppm", 30, 40, None),
            (2, bytearray(encode_jpeg(arr, quality=95)), "image/jpeg", 30, 40, None),
            (
                3,
                bytearray(encode_jpeg(arr, quality=90, subsampling="420")),
                "image/jpeg",
                30,
                40,
                None,
            ),
        ],
        multimodal.ASSET_SCHEMA,
    )
    feats = {
        r["asset_id"]: np.array(r["features"])
        for r in multimodal.extract_features(assets).collect()
    }
    assert np.abs(feats[1] - feats[2]).max() < 0.05
    assert np.abs(feats[1] - feats[3]).max() < 0.08
    hashes = {
        r["asset_id"]: r["dhash"]
        for r in multimodal.image_hashes(assets).collect()
    }
    for other in (2, 3):
        ham = bin((hashes[1] ^ hashes[other]) & (2**64 - 1)).count("1")
        assert ham <= 6, (other, ham)


def test_property_roundtrip_random_smooth_images():
    """Hypothesis: random low-frequency images round-trip within the
    quantization error budget at every sampling/restart variant, and
    dimensions/dtype are always preserved."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 2**31 - 1),
        h=st.integers(8, 40),
        w=st.integers(8, 40),
        sub=st.sampled_from(["444", "420"]),
        ri=st.sampled_from([0, 2]),
    )
    def check(seed, h, w, sub, ri):
        rng = np.random.default_rng(seed)
        # smooth content in LUMA AND CHROMA: separable cumulative ramps
        # with per-channel affine scaling only (same orientation — a
        # flipped channel would put sharp gradients into Cb/Cr, which
        # 4:2:0 destroys by design and no budget can bound)
        ry = np.cumsum(rng.uniform(0, 3, h))
        rx = np.cumsum(rng.uniform(0, 3, w))
        base = (ry[:, None] + rx[None, :])
        base = base / base.max() * 255.0
        scales = rng.uniform(0.5, 1.0, 3)
        img = np.dstack([base * s for s in scales]).astype(np.uint8)
        dec = decode_jpeg(
            encode_jpeg(img, quality=90, subsampling=sub, restart_interval=ri)
        )
        assert dec.shape == img.shape and dec.dtype == np.uint8
        err = np.abs(dec.astype(float) - img.astype(float)).max()
        budget = 12 if sub == "444" else 24  # chroma averaging at 4:2:0
        assert err <= budget, (seed, h, w, sub, ri, err)

    check()


# ---- progressive (SOF2) decode: r7, closing the r6 named stub --------

from lakehouse_adventureworks2022_spark.operators.jpeg import (  # noqa: E402
    encode_jpeg_progressive,
)


def test_progressive_decode_equals_baseline_exactly():
    """The progressive twin quantizes with bit-identical math to the
    baseline encoder, so decoding its completely different packaging
    (spectral bands, successive approximation, EOB runs, correction
    bits) must reproduce the baseline decode EXACTLY — any refinement
    bit mis-read shows as a pixel diff."""
    rng = np.random.default_rng(42)
    cases = []
    for trial in range(18):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        kind = trial % 5
        if kind == 0:
            arr = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        elif kind == 1:  # flat: maximal EOB runs
            arr = np.full((h, w, 3), int(rng.integers(0, 256)), np.uint8)
        elif kind == 2:
            arr = _gradient(h, w)
        elif kind == 3:  # sparse spikes: ZRL-heavy
            arr = np.zeros((h, w, 3), np.uint8)
            arr[::7, ::11] = 255
        else:  # binary: dense high-magnitude AC, refinement-heavy
            arr = (
                rng.integers(0, 2, size=(h, w, 1)) * 255 * np.ones((1, 1, 3))
            ).astype(np.uint8)
        q = int(rng.choice([10, 50, 80, 95]))
        sub = "420" if (h > 2 and w > 2 and trial % 2) else "444"
        gray = trial % 7 == 3
        cases.append((arr, q, sub, gray))
    for arr, q, sub, gray in cases:
        base = decode_jpeg(
            encode_jpeg(arr, quality=q, subsampling=sub, grayscale=gray)
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(
                arr, quality=q, subsampling=sub, grayscale=gray
            )
        )
        assert np.array_equal(base, prog), (arr.shape, q, sub, gray)


def _flat_huff():
    # all 256 symbols: 128 len-8 + 128 len-9 canonical codes (EOBn
    # symbols included — the Annex K tables lack them)
    bits = [0] * 7 + [128, 128] + [0] * 7
    vals = list(range(256))
    return bits, vals, _canonical_codes(bits, vals)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def put(self, ln, code):
        self.buf = (self.buf << ln) | code
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            b = (self.buf >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0)

    def flush(self):
        if self.n:
            self.put(8 - self.n, (1 << (8 - self.n)) - 1)
        return bytes(self.out)


def test_hand_packed_progressive_matches_spec_math():
    """Spec-conformance anchor, independent of the module's encoder: a
    two-block grayscale progressive stream packed by hand — DC first +
    refinement, AC first with an EOBRUN spanning both blocks, an AC
    refinement scan whose EOBn carries the blocks' correction bits, and
    a 16-BIT (pq=1) quantization table. Expected pixels computed from
    the raw IDCT math."""

    def seg(mk, payload):
        return bytes([0xFF, mk]) + struct.pack(">H", len(payload) + 2) + payload

    bits, vals, codes = _flat_huff()

    def wsym(bw, v):
        ln, code = codes[v]
        bw.put(ln, code)

    hdr = bytearray(b"\xff\xd8")
    hdr += seg(0xDB, bytes([0x10]) + struct.pack(">64H", *([1] * 64)))
    hdr += seg(
        0xC2, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    hdr += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(vals))
    hdr += seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(vals))

    def sos(ss, se, ah, al):
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    out = bytearray(hdr)
    # block1 zigzag {0: 5, 1: 3, 10: -2}, block2 {0: 5}; qt all ones.
    # scan 1 — DC first, Al=1: b1 dc>>1=2 (diff 2: size 2, bits '10'),
    # b2 diff 0 (size 0)
    b = _BitWriter()
    wsym(b, 2)
    b.put(2, 0b10)
    wsym(b, 0)
    out += sos(0, 0, 0, 1) + b.flush()
    # scan 2 — AC first 1-63, Al=1: b1 zz1: 3>>1=1 -> (0,1)+'1';
    # zz10: run of 8 zeros -> (8,1)+'0'; EOBRUN=2 covers the rest of b1
    # AND all of b2 -> EOB1 symbol 0x10 + 1 extension bit '0'
    b = _BitWriter()
    wsym(b, 0x01)
    b.put(1, 1)
    wsym(b, 0x81)
    b.put(1, 0)
    wsym(b, 0x10)
    b.put(1, 0)
    out += sos(1, 63, 0, 1) + b.flush()
    # scan 3 — DC refine to Al=0: both blocks' low bit is 1 (dc=5)
    b = _BitWriter()
    b.put(1, 1)
    b.put(1, 1)
    out += sos(0, 0, 1, 0) + b.flush()
    # scan 4 — AC refine Ah=1 Al=0: no new significance -> EOBRUN=2
    # (0x10 + ext '0'), then b1's correction bits in coefficient order
    # (zz1: 3&1=1, zz10: 2&1=0); b2 has no nonzero history -> no bits
    b = _BitWriter()
    wsym(b, 0x10)
    b.put(1, 0)
    b.put(1, 1)
    b.put(1, 0)
    out += sos(1, 63, 1, 0) + b.flush()
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out))
    k = np.arange(8)
    basis = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    alpha = np.full(8, np.sqrt(2.0 / 8.0))
    alpha[0] = np.sqrt(1.0 / 8.0)
    m = basis * alpha[None, :]

    def block_px(zzmap):
        nat = np.zeros(64)
        for zi, v in zzmap.items():
            nat[ZIGZAG[zi]] = v
        return np.clip(m @ nat.reshape(8, 8) @ m.T + 128, 0, 255).astype(
            np.uint8
        )

    exp = np.concatenate(
        [block_px({0: 5, 1: 3, 10: -2}), block_px({0: 5})], axis=1
    )
    assert np.array_equal(got[:, :, 0], exp)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])  # gray replicated


def test_progressive_files_flow_through_real_asset_paths(spark):
    """A progressive JPEG asset decodes through the feature
    and dHash paths identically to its baseline twin — format variants
    must not perturb the perceptual pipeline."""
    arr = _gradient(24, 32)
    assets = spark.createDataFrame(
        [
            (1, bytearray(encode_jpeg(arr, quality=90)), "image/jpeg", 32, 24, None),
            (
                2,
                bytearray(encode_jpeg_progressive(arr, quality=90)),
                "image/jpeg",
                32,
                24,
                None,
            ),
        ],
        multimodal.ASSET_SCHEMA,
    )
    feats = {
        r["asset_id"]: r["features"]
        for r in multimodal.extract_features(assets).collect()
    }
    assert np.allclose(feats[1], feats[2])
    hashes = {
        r["asset_id"]: r["dhash"]
        for r in multimodal.image_hashes(assets).collect()
    }
    assert hashes[1] == hashes[2]


# ---- lossless (SOF3) decode: r8, closing the r7 half-landed path -----

from lakehouse_adventureworks2022_spark.operators.jpeg import (  # noqa: E402
    encode_jpeg_lossless,
)


def _noise(h, w, ch=None, seed=7):
    rng = np.random.default_rng(seed)
    shape = (h, w) if ch is None else (h, w, ch)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("predictor", [1, 2, 3, 4, 5, 6, 7])
def test_lossless_roundtrip_exact_every_predictor(predictor):
    """The whole point of the lossless process: decode(encode(img)) is
    EXACTLY the input, for every T.81 H.1 predictor, on worst-case
    (incompressible noise) pixels."""
    gray = _noise(13, 17, seed=predictor)
    got = decode_jpeg(encode_jpeg_lossless(gray, predictor=predictor))
    assert got.shape == (13, 17, 3)
    for c in range(3):  # grayscale replicates across channels
        assert np.array_equal(got[:, :, c], gray)

    rgb = _noise(9, 11, ch=3, seed=100 + predictor)
    got3 = decode_jpeg(encode_jpeg_lossless(rgb, predictor=predictor))
    assert np.array_equal(got3, rgb)  # no color transform, bit-exact


def test_lossless_point_transform():
    """Pt=2 drops the two low bits on encode and shifts back on
    decode: output == (input >> 2) << 2 exactly (T.81 H.1.2)."""
    img = _noise(8, 8, seed=42)
    got = decode_jpeg(encode_jpeg_lossless(img, predictor=4, point_transform=2))
    assert np.array_equal(got[:, :, 0], (img >> 2) << 2)


def test_lossless_single_row_and_column_edges():
    """Degenerate shapes exercise the H.1.2.1 edge rules alone: a 1-row
    image is all first-line (Ra chain), a 1-column image all
    first-column (Rb chain)."""
    row = _noise(1, 40, seed=3)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(row, predictor=5))[:, :, 0], row
    )
    col = _noise(40, 1, seed=4)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(col, predictor=6))[:, :, 0], col
    )


def test_lossless_extreme_values_mod_arithmetic():
    """0↔255 checkerboard maximizes |diff| every sample; the mod-2^16
    wrap and SSSS categories must still round-trip exactly."""
    yy, xx = np.mgrid[0:12, 0:12]
    board = (((yy + xx) % 2) * 255).astype(np.uint8)
    for predictor in (1, 4, 7):
        got = decode_jpeg(encode_jpeg_lossless(board, predictor=predictor))
        assert np.array_equal(got[:, :, 0], board)


def test_lossless_encoder_rejects_bad_args():
    img = _noise(4, 4)
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(img, predictor=0)
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(img, predictor=8)
    with pytest.raises(ValueError, match="point transform"):
        encode_jpeg_lossless(img, point_transform=9)


# ---- 12-bit extended sequential (SOF1) decode: r8 ---------------------

from lakehouse_adventureworks2022_spark.operators.jpeg import (  # noqa: E402
    encode_jpeg_12bit,
)


def _gradient12(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.dstack(
        [
            xx * 4095 / max(w - 1, 1),
            yy * 4095 / max(h - 1, 1),
            (xx + yy) * 4095 / max(w + h - 2, 1),
        ]
    ).astype(np.uint16)


def test_12bit_roundtrip_accuracy_and_dtype():
    img = _gradient12(21, 29)
    for q, bound in [(100, 40), (95, 60)]:
        dec = decode_jpeg(encode_jpeg_12bit(img, quality=q))
        assert dec.dtype == np.uint16 and dec.shape == img.shape
        assert dec.max() <= 4095
        err = np.abs(dec.astype(float) - img.astype(float))
        # 12-bit pixels span 16x the 8-bit range: the q-scaled Annex K
        # tables leave absolute errors ~16x the 8-bit bounds, i.e. the
        # SAME relative accuracy the 8-bit suite pins
        assert err.max() <= bound, (q, err.max())


def test_12bit_grayscale_and_dc_categories_past_11():
    # a hard step image drives 12-bit DC diffs past the Annex K tables'
    # 11-category ceiling — the flat 16-category DC table must carry it
    img = np.zeros((16, 16), dtype=np.uint16)
    img[:, 8:] = 4095
    dec = decode_jpeg(encode_jpeg_12bit(img, quality=95))
    assert dec.dtype == np.uint16
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert float(np.mean(dec[:, :4, 0])) < 300
    assert float(np.mean(dec[:, 12:, 0])) > 3800


def test_12bit_rejects_out_of_range_samples():
    with pytest.raises(ValueError, match="0..4095"):
        encode_jpeg_12bit(np.full((8, 8), 5000, dtype=np.uint16))


def test_12bit_progressive_decode_equals_12bit_sequential_exactly():
    """The progressive scan machinery is precision-agnostic: at
    qualities where the quality-scaled quant tables stay ≤255, the
    12-bit progressive twin quantizes bit-identically to the 12-bit
    sequential twin, so the two decodes must be EXACTLY equal — the
    same cross-packaging pin the 8-bit suite holds."""
    img = _gradient12(19, 23)
    seq = decode_jpeg(encode_jpeg_12bit(img, quality=95))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, quality=95, precision=12)
    )
    assert prog.dtype == np.uint16
    assert np.array_equal(prog, seq)
    gray = _noise(16, 16, seed=5).astype(np.uint16) * 16  # 0..4080
    sg = decode_jpeg(encode_jpeg_12bit(gray, quality=90))
    pg = decode_jpeg(
        encode_jpeg_progressive(gray, quality=90, precision=12)
    )
    assert np.array_equal(pg, sg)
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg_progressive(img, precision=10)
    with pytest.raises(ValueError, match="0..4095"):
        encode_jpeg_progressive(
            np.full((8, 8), 5000, dtype=np.uint16), precision=12
        )


def test_lossless_full_precision_range_roundtrip():
    """r13: predictive lossless at ANY T.81 precision 2-16 — exact
    decode(encode(img)) == img on incompressible noise for every
    predictor at a sweep of widths; ≤8-bit output stays uint8, wider
    returns uint16; the 8-bit byte stream is unchanged from the r8
    encoder (regression pin)."""
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(113)
    for prec in (2, 4, 7, 9, 10, 12, 14, 16):
        maxv = (1 << prec) - 1
        img = rng.integers(0, maxv + 1, size=(11, 9), dtype=np.uint16)
        for pred in range(1, 8):
            out = decode_jpeg(
                encode_jpeg_lossless(img, predictor=pred, precision=prec)
            )
            assert out.dtype == (np.uint8 if prec <= 8 else np.uint16)
            assert (out[:, :, 0].astype(np.int64) == img).all(), (
                prec, pred,
            )
    # RGB, point transform, and the SSSS=16 extreme
    img3 = rng.integers(0, 1 << 10, size=(6, 5, 3), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img3, predictor=5, precision=10))
    assert (out.astype(np.int64) == img3).all()
    ptimg = (rng.integers(0, 1 << 14, size=(5, 7)) >> 3 << 3).astype(
        np.uint16
    )
    out = decode_jpeg(
        encode_jpeg_lossless(ptimg, predictor=6, point_transform=3,
                             precision=14)
    )
    assert (out[:, :, 0].astype(np.int64) == ptimg).all()
    # SSSS=16: a 0/32768 checkerboard at 16-bit makes every diff hit
    # the no-extend-bits category (T.81 H.1.2: diff == 32768)
    cb = (np.indices((8, 8)).sum(0) % 2 * 32768).astype(np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(cb, predictor=1, precision=16))
    assert (out[:, :, 0].astype(np.int64) == cb).all()
    # 8-bit stream unchanged (default == precision=8, byte for byte)
    img8 = rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
    assert encode_jpeg_lossless(img8, predictor=3) == encode_jpeg_lossless(
        img8, predictor=3, precision=8
    )
    # out-of-range samples and precisions refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="range"):
        encode_jpeg_lossless(np.full((3, 3), 256), precision=8)
    with _pytest.raises(ValueError, match="2..16"):
        encode_jpeg_lossless(img8, precision=17)


def test_lossless_restart_markers_roundtrip():
    """r13: SOF3 scans with restart markers — bit stream realigns at
    each RSTn (raw, never stuffed) and prediction resets as at scan
    start (interval's first sample default, rest of that line 1-D Ra —
    the libjpeg reading of T.81 H.1.2.1/H.2.4). Exact round-trip on
    noise across predictors, precisions, and intervals that land
    mid-line, on line boundaries, and past the image size; the DRI
    segment and at least one raw RSTn are present in the stream."""
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(41)
    for prec in (8, 12, 16):
        img = rng.integers(
            0, (1 << prec), size=(10, 7), dtype=np.uint16
        )
        for pred in (1, 4, 7):
            for ri in (1, 3, 7, 10, 64, 70):
                blob = encode_jpeg_lossless(
                    img, predictor=pred, precision=prec,
                    restart_interval=ri,
                )
                out = decode_jpeg(blob)
                assert (out[:, :, 0].astype(np.int64) == img).all(), (
                    prec, pred, ri,
                )
    blob = encode_jpeg_lossless(
        rng.integers(0, 256, size=(6, 6), dtype=np.uint8),
        restart_interval=5,
    )
    assert b"\xff\xdd" in blob  # DRI
    assert any(bytes([0xFF, 0xD0 + m]) in blob for m in range(8))
    # RGB with restarts
    img3 = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    out = decode_jpeg(
        encode_jpeg_lossless(img3, predictor=4, restart_interval=4)
    )
    assert (out.astype(np.int64) == img3).all()


# ---- encoder byte pins ------------------------------------------------
# The decode tests above check pixels; these pin the exact bytes every
# encoder writes, so a refactor of the shared entropy coder, marker
# writer or transforms cannot change a stream unnoticed. The digests
# were taken from the encoders before they shared one codec factory.


def _pin_inputs():
    rng = np.random.default_rng(2024)
    h, w = 37, 45  # odd in both axes: partial blocks and MCUs
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.dstack(
        [xx * 255 / (w - 1), yy * 255 / (h - 1), (xx + yy) * 255 / (w + h - 2)]
    )
    rgb8 = np.clip(smooth + rng.normal(0, 40, smooth.shape), 0, 255).astype(
        np.uint8
    )
    rgb12 = rgb8.astype(np.uint16) * 16 + rng.integers(
        0, 16, rgb8.shape, dtype=np.uint16
    )
    return rng, rgb8, rgb12


def _pinned_encodes():
    """``(case id, encoder, input, kwargs)`` for the byte-pin matrix."""
    rng, rgb8, rgb12 = _pin_inputs()
    gray8, gray12 = rgb8[:, :, 1], rgb12[:, :, 1]
    cases = []
    for sub in ("444", "420"):
        for q in (1, 50, 85, 100):
            for ri in (0, 3):
                cases.append(
                    (f"baseline-{sub}-q{q}-r{ri}", encode_jpeg, rgb8,
                     dict(quality=q, subsampling=sub, restart_interval=ri))
                )
    for ri in (0, 3):
        cases.append(
            (f"baseline-gray2d-q85-r{ri}", encode_jpeg, gray8,
             dict(quality=85, restart_interval=ri))
        )
    cases.append(
        ("baseline-grayflag-q85", encode_jpeg, rgb8,
         dict(quality=85, grayscale=True))
    )
    for prec, rgb, gray in ((8, rgb8, gray8), (12, rgb12, gray12)):
        for name, arr, sub in (("444", rgb, "444"), ("420", rgb, "420"),
                               ("gray2d", gray, "444")):
            cases.append(
                (f"progressive-{prec}bit-{name}", encode_jpeg_progressive,
                 arr, dict(quality=85, subsampling=sub, precision=prec))
            )
    for q in (10, 95):
        cases.append((f"12bit-rgb-q{q}", encode_jpeg_12bit, rgb12,
                      dict(quality=q)))
        cases.append((f"12bit-gray2d-q{q}", encode_jpeg_12bit, gray12,
                      dict(quality=q)))
    for prec in (2, 8, 12, 16):
        img = (gray12.astype(np.int64) * ((1 << prec) - 1) // 4095).astype(
            np.uint16
        )
        for pt in (0, 2):
            if pt >= prec:  # T.81 needs Pt < P
                continue
            for pred in range(1, 8):
                for ri in (0, 5):
                    cases.append(
                        (f"lossless-p{prec}-pt{pt}-pred{pred}-r{ri}",
                         encode_jpeg_lossless, img,
                         dict(predictor=pred, point_transform=pt,
                              precision=prec, restart_interval=ri))
                    )
    for ri in (0, 5):
        cases.append((f"lossless-rgb8-pred4-r{ri}", encode_jpeg_lossless,
                      rgb8, dict(predictor=4, restart_interval=ri)))
    board = (np.indices((9, 11)).sum(0) % 2 * 32768).astype(np.uint16)
    cases.append(("lossless-p16-ssss16", encode_jpeg_lossless, board,
                  dict(predictor=1, precision=16)))
    return cases


def _pin_digests() -> dict[str, str]:
    import hashlib

    return {
        name: hashlib.sha256(enc(arr, **kw)).hexdigest()
        for name, enc, arr, kw in _pinned_encodes()
    }


PINNED_DIGESTS: dict[str, str] = {
    "baseline-444-q1-r0":
        "18d83a59dacc48fceca5e7e4abbe5838e1b09842ef4b54ca41ba71f19ea1da6b",
    "baseline-444-q1-r3":
        "2540ae7b232a73519719710fcfffc8a7409938cd1539eff0a9490ce9f08ee562",
    "baseline-444-q50-r0":
        "da15b43a796a81870b402f0945d9e6366a98a815e461e3459cb84dc382c3f986",
    "baseline-444-q50-r3":
        "a7e4c6879b6ace024a321467538c3680920a71ff23039b823ed16849cb7402df",
    "baseline-444-q85-r0":
        "17f33e19369b9580eaec33caadfdb4bc28a274e2d3544975eda764d05d7ec380",
    "baseline-444-q85-r3":
        "011f18f65333db0de1a6316a0b802d5ca14db92ae55018f97c365410f71d4f27",
    "baseline-444-q100-r0":
        "1f778078510de97919e1f7aa69f6c2cdc0a1604faa7f0ed26baa9677b01b1c43",
    "baseline-444-q100-r3":
        "6506c02784e6d313fa86617b26ab8f90b07cc906db785fb9870164522b5ab0ae",
    "baseline-420-q1-r0":
        "80adc71db6d647b257501c7b02d05478c245c27bbaac6c1189849f19c3b2d5cc",
    "baseline-420-q1-r3":
        "6d29354fe570b5a1e04419a55e2afbfc0a5b1452702c072638f83441815dcefe",
    "baseline-420-q50-r0":
        "b71048df6ae7c35116b375bc19d4d28349136f7f9b9998f9e6be2e4cb91683aa",
    "baseline-420-q50-r3":
        "5de60752eac425831598c74ea356dc9eaa041618d8b09d86778f0764c42fa308",
    "baseline-420-q85-r0":
        "987eab5ce78795d7f7e184184da06ebf96beabea4c17bc82ba0a3c489b51468c",
    "baseline-420-q85-r3":
        "01ffd6a9e627df3b0dbe71f791d7670cdc904e2c5ce64b579e295b83fd1ce189",
    "baseline-420-q100-r0":
        "51b3b90ffc6194e62d33b6a67b20410f6eec5b577599fac39e28bf869edf1f31",
    "baseline-420-q100-r3":
        "de7fc14c2a3fbd8d3cabd22002b199dac8272205a1037443bc7e22d64855d014",
    "baseline-gray2d-q85-r0":
        "387665989e789dbe44c4c0ca24df521652550d4cd6a8db00e04f9c730607b397",
    "baseline-gray2d-q85-r3":
        "1820bdd3981714e8dd3b83fc346559bd13de7d9eb519365717ece3e23f056480",
    "baseline-grayflag-q85":
        "e24b84b72298fa443d7115cba7a63119f1cf7cebb9351982c8425e7d73e6f8f2",
    "progressive-8bit-444":
        "fea40095002a2f8bc917e5345214b86ddc4b7df1a6e91dcc35dc1cdb98c600f5",
    "progressive-8bit-420":
        "e369ef358269e6ecc82f37d6958572310e15374298f47d3ab87b5691cbc5e3ae",
    "progressive-8bit-gray2d":
        "6f451e96f803be2dcd856a51f164fcf028ad07cd9f20126acdae64f3e5a7ea0b",
    "progressive-12bit-444":
        "f72804f2097ee7a6ef97f841f9fa5091d68542913ea6df71cbdac8f697621a97",
    "progressive-12bit-420":
        "9c2d957c419a0de2017a23bdbae7ec593b8adfcd3e32d09c764158bd406fba47",
    "progressive-12bit-gray2d":
        "e3df4649c9f2f34d62185469c44de5ab496f86d83a572f7a131a14e112ab71bb",
    "12bit-rgb-q10":
        "6ec3b18fe09b5949f87a0ed837919cbc341a5c4d0e304597cc5b51a75f3766c1",
    "12bit-gray2d-q10":
        "65fde5e576fde456f3843eace64cdadeeff4f9265495ff8e56b665b6a502d2b7",
    "12bit-rgb-q95":
        "c3a4e0fcfbe1ca674ae5fb526a3ace7e38480e4b432ac958833b349c1c5e1e4c",
    "12bit-gray2d-q95":
        "2b68da3d83584c0d99ffc12cf195c124761a03df6b7da52566f25ec8cc9d7629",
    "lossless-p2-pt0-pred1-r0":
        "fd82868d964d1467ef77b49d96134536c1ee12b3b50196ef17b2a2d2c70817ec",
    "lossless-p2-pt0-pred1-r5":
        "d5f510d38a33ed499aa2a94e7d54f6d08626400039502e03661b92466ba63cff",
    "lossless-p2-pt0-pred2-r0":
        "8232b6d33a9d591ead7bd12bd67283736c2c195eb9f01b8d6557ab3487d4dee3",
    "lossless-p2-pt0-pred2-r5":
        "26000b128762d06c34adad5df0bf22113e3e1a21b3ffcbc00328bb538bb0b9d4",
    "lossless-p2-pt0-pred3-r0":
        "566e189c8f9832cbd1ed251a40591f1d76e300dfa1582fff0954ee549e14b42b",
    "lossless-p2-pt0-pred3-r5":
        "7af0dd445b8097437658b51c36bd5c5ce25c6f205aebe0a97490cf16870fad0c",
    "lossless-p2-pt0-pred4-r0":
        "1a702ecc51052f33768ce3c81c24362e7f1013611dccfd528fe59fd5addbe85b",
    "lossless-p2-pt0-pred4-r5":
        "eb778765e99473aadfad6d3e9c234c38160e1d1de13165007162cfce5d6b9482",
    "lossless-p2-pt0-pred5-r0":
        "c7bf2c93d08be378b0d77bf4af52bc313ccaca04020fa0922a6a1f805940a563",
    "lossless-p2-pt0-pred5-r5":
        "521af3c4bda54efae371091cfc830f02a4c17289c1fda097a6672f16aac18d75",
    "lossless-p2-pt0-pred6-r0":
        "41ab0ecd3886e427755ea8d9c5b811a69b05b9d54ff6feec83c4df0360fd3fa2",
    "lossless-p2-pt0-pred6-r5":
        "3fa47948cbf212dc6a735ede85935b34768aaa2da9de0c195908afb2d283e5b4",
    "lossless-p2-pt0-pred7-r0":
        "7d15bd40f30c3b48c4d24489ff68993c8f4d2d82f2f1e56f6131c9038dfcf7ad",
    "lossless-p2-pt0-pred7-r5":
        "b1a680f449ed85cf3d0f89024017467fb346d43ee31f05f52dab853b5af766f8",
    "lossless-p8-pt0-pred1-r0":
        "8f66d9292679e1383d1d548be5232aa313125746b2a415530cdad5b058009301",
    "lossless-p8-pt0-pred1-r5":
        "4c867deef19035bcb3c05dff175340ab771599291031cefa790ce071898e2634",
    "lossless-p8-pt0-pred2-r0":
        "45b5bb107c3612e3e75550b36c43c7a1280801ebcbb271e5225a0ae6f32d4b07",
    "lossless-p8-pt0-pred2-r5":
        "7c8db16dbf59a96c0391fe514fb8bb946af9a30d061ce181b7b0f1985c8f5f17",
    "lossless-p8-pt0-pred3-r0":
        "432b90c6812c830c60bf3c199453ab06b89d07ec0849ad3a0fb9b20fce659b01",
    "lossless-p8-pt0-pred3-r5":
        "6c44e4278a499b63c81b54813de0fcb685507f3be59958174c3e29d20204fb50",
    "lossless-p8-pt0-pred4-r0":
        "547cac1fb1b512edefd863fda1be1cc45bcb492bbf06231f19de95a56bf587a8",
    "lossless-p8-pt0-pred4-r5":
        "41e4f567317c3c53a614ac3d48ec278058b021e64b0db8034d99b863493ec91b",
    "lossless-p8-pt0-pred5-r0":
        "b15e357a4896747626aebc1aaeea3fca88195b839f340f19c46f2c3a23c2d282",
    "lossless-p8-pt0-pred5-r5":
        "ad2d37bcba438365e7f12582484e93665368f0ec2dd2477436e8baf1af23f219",
    "lossless-p8-pt0-pred6-r0":
        "7a2d27c65e42a72fc0101fde0275cbd1d53e5ccee66c1a8e40a854926b9fd98a",
    "lossless-p8-pt0-pred6-r5":
        "d9bbf92a4ddcfde783533b3993127a856631d2d4c7c54f46d7f98099afce9b8e",
    "lossless-p8-pt0-pred7-r0":
        "4de83d409c09ef010fe8de5f118bb637e02d7c06f60bd82b9ea8947aad1c1c7c",
    "lossless-p8-pt0-pred7-r5":
        "32e5825c1db6821f13e28d25c3b97707351cb2dd32211457e5dbb610d91a9de4",
    "lossless-p8-pt2-pred1-r0":
        "d47f5520f5b1a9b0f78a30a3e54be8b6526a08040948db15150350d10ae3de1c",
    "lossless-p8-pt2-pred1-r5":
        "9938067ca4192dec54d5730cec8d01f19eccbd418acf1653afe26f992be559cd",
    "lossless-p8-pt2-pred2-r0":
        "c78f5d79885703df1cae463119cf311d7ff7aa91710dab1486cc9fd7abe0b826",
    "lossless-p8-pt2-pred2-r5":
        "71355591045e2ba541ddb913f752a173c7e5787106c6e6ef6ddb49da3ada453a",
    "lossless-p8-pt2-pred3-r0":
        "b86438596b43bdb28155f884334cb8aabaeb493bb2efd98451bbae53244005a5",
    "lossless-p8-pt2-pred3-r5":
        "ac14767b88fa6a311fda730404d6ef54bad8a1acf4acec9508ab7e6edadb0b7d",
    "lossless-p8-pt2-pred4-r0":
        "5693d3b2abefd0f5c164acd4c1b371d4dfb9fd6d4ac56fb40bf193087b927f96",
    "lossless-p8-pt2-pred4-r5":
        "e214caeccbd7372b497a60b85b0238e0339e946f4b30e58b4c0918313c9ff447",
    "lossless-p8-pt2-pred5-r0":
        "4be25540728fe997961c3b2809ce843752540f7369935dabc1f9e8ec3f173655",
    "lossless-p8-pt2-pred5-r5":
        "14bc9ee0587d452e965de652c14d8381c03a643aa9a837db1609b642c67c00bb",
    "lossless-p8-pt2-pred6-r0":
        "2a6c5e8708333d6be4c4c9ebc6b06f8eca276dc240d9844b84ed343612de3140",
    "lossless-p8-pt2-pred6-r5":
        "762f53109913705c565ce165691db9cc4a0f76ac5decccfb44c9c2f92a5bfd23",
    "lossless-p8-pt2-pred7-r0":
        "d22224dfe4f584f57e84ab30e40d7d065df8d4363a56d27bf8c3364f261987ee",
    "lossless-p8-pt2-pred7-r5":
        "884d4831fbbbc09d183fd7fe69005f5e851de1797526bd12be05c5dc72b8378f",
    "lossless-p12-pt0-pred1-r0":
        "89992d5903252eb325f80d19b4ccad47dce36ed717b98d81f9264bf23a50512d",
    "lossless-p12-pt0-pred1-r5":
        "714165fa2fdb23c19609e5d5633e14a7f44ca6196ca0d3189ab572df838dcb31",
    "lossless-p12-pt0-pred2-r0":
        "3f2ed3699c4e76a963b8c314f1ae03f40db4ff5087b29c15d41b6f6d3fdd2b24",
    "lossless-p12-pt0-pred2-r5":
        "7bab13a1cb46a323c8593266d6ea28ebc29772e0e1aae1c9cadd19581abe127f",
    "lossless-p12-pt0-pred3-r0":
        "b29977a125f1f3035ce8a476719c6d1a47ea0bd06f4912489499a3a07a3bbe98",
    "lossless-p12-pt0-pred3-r5":
        "4e6af4e06369230a9ca3024afba2f5cb76f20d892ab574a46bd2380724e67ffb",
    "lossless-p12-pt0-pred4-r0":
        "d52e3afabc4b152a0f1da1b328e91301aa73724c271998658137474b65e3e30b",
    "lossless-p12-pt0-pred4-r5":
        "b30b46b2a03106fd1ae7b8ad605064479248948e6495ba26ab25bd9fc791f036",
    "lossless-p12-pt0-pred5-r0":
        "ceff43dbc272f4b92c6dc5fbf20dd38e821f272651947491c6c0047f0923a108",
    "lossless-p12-pt0-pred5-r5":
        "ab3a9fe2e430955bb4dcb3041eacf84d9f2fe1f7c23bf119f85dd4f22664440e",
    "lossless-p12-pt0-pred6-r0":
        "36c58925933d88c108b1c40f4fa3e3f88def8e5b22e6b91e6a7038c8542eae5f",
    "lossless-p12-pt0-pred6-r5":
        "909504b4f8ebaf6ea6f02a438680fa55495dd089fe92be918acd3ad4b787da48",
    "lossless-p12-pt0-pred7-r0":
        "eff2a37e6640f407874775d5b7ed5d2082ecc8a24de4f590743500f032f5f10b",
    "lossless-p12-pt0-pred7-r5":
        "5530be660d0a6d82fcf49ab8b48f6a94ff98b93704989fc4e3c2df6125d1b2d3",
    "lossless-p12-pt2-pred1-r0":
        "399d3dc71ddc8612b5d4c365701cd06bfe0fe4088e87998eb008d24b95ddc341",
    "lossless-p12-pt2-pred1-r5":
        "123cb2d3ebe38a01567946ec92173c105c8ae0e333aca1a086aac4761d312566",
    "lossless-p12-pt2-pred2-r0":
        "9e7a5a6cdc4fd5bde926ee0b057714d3f7d078656ced68505fb78e6a057f9bd3",
    "lossless-p12-pt2-pred2-r5":
        "9163b25581b7420c0bd5ce5bb01981b6d5f21066401c950aa5c80a0b623bf108",
    "lossless-p12-pt2-pred3-r0":
        "bf7e7fe68f313602a2d23bff2466fdf45fc7782a96162acdb29c518553e91fd7",
    "lossless-p12-pt2-pred3-r5":
        "c5874e8a7ff9a98ea4d9fd9252bc4226fb14492ad5024658b6fe6801c8e2b54d",
    "lossless-p12-pt2-pred4-r0":
        "387350c9a1a24ea27b2e791ed37d795905fbef3f1fbc64c8049a8f1d31cb4e77",
    "lossless-p12-pt2-pred4-r5":
        "3e89efcd4804cf772d850892044cb76b58080f86f8d120ee113e70829bec59f1",
    "lossless-p12-pt2-pred5-r0":
        "2f1533baaae26100808fc76965570495ba35dd1a725a365a3920b644266ff93f",
    "lossless-p12-pt2-pred5-r5":
        "8bbabd96e04f4cd5abcd7f33003e17f486773a588613f1d1e6734fbf2b88b865",
    "lossless-p12-pt2-pred6-r0":
        "8ca2f05d4e9373d88d7b836ced199949aaea0abb454befe376b9ef7e9c05efc0",
    "lossless-p12-pt2-pred6-r5":
        "9132af6c8355ed69ab5a9532ae58e930bd3f71b1ca7e400197d7adfb4e4a44cf",
    "lossless-p12-pt2-pred7-r0":
        "1bdc1ac39c88ce3f74082d5ea3bbd4f8a7e9d4343fc52a45c7cdbb884aaa80db",
    "lossless-p12-pt2-pred7-r5":
        "3d0ce595e42a82f150b5c0177f0aedd4aa84d1ae92df7b510d6372ff529b87ae",
    "lossless-p16-pt0-pred1-r0":
        "cddeb04da436655f8daf7feb8c3f74126152d7a947ac51e820e1f2a3be860a1a",
    "lossless-p16-pt0-pred1-r5":
        "db7f442ca4d57ee705b5977aded9f277243dc4b47ab5aa74150bf2a16071931e",
    "lossless-p16-pt0-pred2-r0":
        "dd8b9713880f883c110db28256ba52e4407c226d5b89c799c9302d6f882a787e",
    "lossless-p16-pt0-pred2-r5":
        "e1c3135ecfa7ebcd0676be4969f6b556c5e9eb2edcad900f22462cb7fa8661f6",
    "lossless-p16-pt0-pred3-r0":
        "a1b92fe5984fef561dc799025c27314051735337944f982ca5f4e4133f67646f",
    "lossless-p16-pt0-pred3-r5":
        "7a89a08a4352e8f4a02afdf853bdca7a3ad2cdabcc60dbc0e052a1c027b36cca",
    "lossless-p16-pt0-pred4-r0":
        "0a3eca3f3787e25ebb13e428fefe826d0101aad303323e4e110fbe193713bf0b",
    "lossless-p16-pt0-pred4-r5":
        "8ec5d6e8c88ca3c56c26ab92ba49fb19cdfc579c2ad363ab83e02af7c20d272d",
    "lossless-p16-pt0-pred5-r0":
        "4e178adc45d0a48651c0e40e2091f8f8b37c9f73d624d2b53f61da731798e62a",
    "lossless-p16-pt0-pred5-r5":
        "d435d8a55b6e94715f5bb8baeb3fc9ce51bf2c6c31d67520f02820ada796ecdc",
    "lossless-p16-pt0-pred6-r0":
        "9f3a210087a0deac0b5b518028ba128b760848ca48462c7192559adf730d806b",
    "lossless-p16-pt0-pred6-r5":
        "f7f5a31cce53717d7e36dcb82fa30e289c5a11919b4bfa108bf27f74100f0d8b",
    "lossless-p16-pt0-pred7-r0":
        "78b42756e42148c7b56e931ffbb49f3cbff1318aa975b3ab266e858c10e72b36",
    "lossless-p16-pt0-pred7-r5":
        "fb3c6fc0317be5a585d6a6e3910e00bc02467e1d7114e3a705bd44e914ae3291",
    "lossless-p16-pt2-pred1-r0":
        "16b34681060206ebd8dbfa9c1b5a0f6c6d50d95ac916a1fb31aa6d464f107093",
    "lossless-p16-pt2-pred1-r5":
        "c7157a5c7aa187c6485701fddfb2ae536875c009cb5780f22d6d299c999538f8",
    "lossless-p16-pt2-pred2-r0":
        "22dab36c728a6528c06f5aabe313539679c43295cdf804fc41dc16b85c97ac4a",
    "lossless-p16-pt2-pred2-r5":
        "1c66c9d4d703515849bf3a4cb56e2f40b43a641dd9d5be409e07e7435a2cd064",
    "lossless-p16-pt2-pred3-r0":
        "1ec09eec4c30fa938da90e2a05d80ce35fbd52d63918f4e4b788e4dfbac1f54c",
    "lossless-p16-pt2-pred3-r5":
        "a2954f5c9c41ab8e25623d2af505b1a585f7dd1d52560f18558445acd6d4464b",
    "lossless-p16-pt2-pred4-r0":
        "78a22e877dc3963fc650891110245a58f93cfe487e4fdae425f20d7c4e7dff9d",
    "lossless-p16-pt2-pred4-r5":
        "c6f8bc3cf5178457a12126568be9f04952cc4bdf7a83d6eb8a8155b1fd213381",
    "lossless-p16-pt2-pred5-r0":
        "a89d8154af8c47e01c1c99e9b84ee6ba2ef519053ee0d736e48850b8dcec2bcb",
    "lossless-p16-pt2-pred5-r5":
        "b4f3efd91aed8097e119b96b84d3e0c8ace07bfb9a3c77f0e38d6249a13516bd",
    "lossless-p16-pt2-pred6-r0":
        "ed0c52d875019bfe9b248f764b9262820c95c5b056b7cc0bbafde61bdeaeca9f",
    "lossless-p16-pt2-pred6-r5":
        "47c1c31e777a3f2d813d8c283ef5e0bfd4a8343b2b9c308d0e671edb8138b486",
    "lossless-p16-pt2-pred7-r0":
        "698c542e290390c80dbfd8f8298c07be3ed93f61c3b47d18e4ee2113e1f8cba6",
    "lossless-p16-pt2-pred7-r5":
        "134e428c05d79b93647dfb84e48b666373a308aea79f3b80e04baa196fcbef52",
    "lossless-rgb8-pred4-r0":
        "627d0f92a0e293d438bce8d87483e960fe1ec46834dd919ba2b5d80323bc8195",
    "lossless-rgb8-pred4-r5":
        "8c017ad16830d809eb50f8d779ce6fa6e01079485176422e3293983812904ab0",
    "lossless-p16-ssss16":
        "e67433f579e31da979b871590812cb351f87f17807faac306fc5552cb77923fd",
}


def test_encoder_bytes_match_pinned_digests():
    got = _pin_digests()
    assert set(got) == set(PINNED_DIGESTS)
    changed = sorted(k for k in got if got[k] != PINNED_DIGESTS[k])
    assert not changed, f"encoder output bytes changed: {changed}"
