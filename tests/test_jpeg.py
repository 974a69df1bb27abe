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
    build_progressive_encoder,
)

encode_jpeg_progressive = build_progressive_encoder()


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
