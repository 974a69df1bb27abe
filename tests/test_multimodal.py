"""Multimodal plumbing: schema, Arrow batch contract, determinism, and
the explicit stub boundary (SURVEY.md beyond-reference scope)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_adventureworks2022_spark.operators import multimodal
from lakehouse_adventureworks2022_spark.sources.readers import read_table


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    return multimodal.attach_real_assets(docs).cache()


def test_asset_schema(assets):
    got = {f.name: f.dataType.simpleString() for f in assets.schema.fields}
    assert got == {
        "asset_id": "bigint",
        "content": "binary",
        "mime": "string",
        "width": "int",
        "height": "int",
        "duration_ms": "int",
    }


def test_feature_extraction_shape_and_determinism(assets):
    feats = multimodal.extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(-1.0 <= v < 1.0 for r in rows for v in r["features"])
    # deterministic: second run bit-identical
    rows2 = multimodal.extract_features(assets).collect()
    assert {r["asset_id"]: r["features"] for r in rows} == {
        r["asset_id"]: r["features"] for r in rows2
    }
    # md5 agrees with the JVM-side md5 of the same bytes
    jvm = {
        r["asset_id"]: r["m"]
        for r in assets.select("asset_id", F.md5("content").alias("m")).collect()
    }
    assert all(jvm[r["asset_id"]] == r["content_md5"] for r in rows)


def test_feature_extraction_preserves_partitioning(assets):
    reparted = assets.repartition(7)
    feats = multimodal.extract_features(reparted)
    assert feats.rdd.getNumPartitions() == 7  # mapInPandas is per-partition


def test_real_decode_of_unknown_format_is_explicit_stub(spark, sf_dir):
    # utf-8 text bytes carry no PPM/PNG/JPEG/WAV/MP4 magic, so the decode
    # must refuse them with the named-format error
    docs = read_table(spark, sf_dir, "documents").limit(5).collect()
    text_assets = spark.createDataFrame(
        [(r["doc_id"], bytearray(r["text"].encode("utf-8")), "text/plain",
          None, None, None) for r in docs],
        schema=multimodal.ASSET_SCHEMA,
    )
    with pytest.raises(Exception, match="PIL|codec|ffmpeg|NotImplemented"):
        multimodal.extract_features(text_assets).collect()


@pytest.fixture(scope="module")
def media_assets(spark):
    rows = [
        (1, bytearray(multimodal.synth_ppm(64, 48, seed=1)),
         "image/x-portable-pixmap", 64, 48, None),
        (2, bytearray(multimodal.synth_ppm(800, 600, seed=2)),
         "image/x-portable-pixmap", 800, 600, None),
        (3, bytearray(multimodal.synth_wav(250, rate=8000, freq=440.0)),
         "audio/wav", None, None, 250),
        (4, bytearray(multimodal.synth_wav(100, rate=16000, freq=1000.0)),
         "audio/wav", None, None, 100),
    ]
    return spark.createDataFrame(rows, schema=multimodal.ASSET_SCHEMA).cache()


def test_real_ppm_and_wav_features(media_assets):
    rows = {r["asset_id"]: r for r in
            multimodal.extract_features(media_assets).collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert all(-1.0 <= v < 1.0 for v in r["features"])
    # Spark-side features equal the driver-side reference implementation
    img = multimodal.decode_ppm(multimodal.synth_ppm(64, 48, seed=1))
    want = multimodal.image_features(img)
    got = rows[1]["features"]
    assert all(abs(a - b) < 1e-6 for a, b in zip(got, want))
    x, rate, nch, dur = multimodal.decode_wav(
        multimodal.synth_wav(250, rate=8000, freq=440.0)
    )
    assert dur == 250
    want_a = multimodal.audio_features(x, rate, nch)
    got_a = rows[3]["features"]
    assert all(abs(a - b) < 1e-6 for a, b in zip(got_a, want_a))
    # image and audio features are distinguishable (not degenerate)
    assert rows[1]["features"] != rows[3]["features"]


def test_real_ppm_resize_reencodes_content(media_assets):
    out = {r["asset_id"]: r for r in
           multimodal.resize_images(
               media_assets.filter("mime like 'image%'"), max_px=100
           ).collect()}
    # large image scaled down, small untouched
    assert (out[2]["width"], out[2]["height"]) == (100, 75)
    assert (out[1]["width"], out[1]["height"]) == (64, 48)
    # content is real PPM at the new dimensions
    arr = multimodal.decode_ppm(bytes(out[2]["content"]))
    assert arr.shape == (75, 100, 3)
    # resize is idempotent on already-small output
    again = multimodal.decode_ppm(
        bytes(
            multimodal.encode_ppm(
                multimodal.resize_nearest(arr, 100)
            )
        )
    )
    assert (again == arr).all()


def test_ppm_roundtrip_and_resize_determinism():
    import numpy as np

    src = multimodal.synth_ppm(33, 17, seed=7)
    arr = multimodal.decode_ppm(src)
    assert arr.shape == (17, 33, 3)
    assert multimodal.encode_ppm(arr) == src  # lossless roundtrip
    small = multimodal.resize_nearest(arr, 8)
    assert small.shape == (4, 8, 3)
    assert (small == multimodal.resize_nearest(arr, 8)).all()
    assert np.all(small <= 255)


def test_resize_metadata_math(spark):
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.synth_ppm(1920, 1080, seed=4)),
          "image/x-portable-pixmap", 1920, 1080, None),
         (2, bytearray(multimodal.synth_ppm(100, 50, seed=5)),
          "image/x-portable-pixmap", 100, 50, None)],
        schema=multimodal.ASSET_SCHEMA,
    )
    out = {r["asset_id"]: r for r in
           multimodal.resize_images(df, max_px=512).collect()}
    assert (out[1]["width"], out[1]["height"]) == (512, 288)  # aspect kept
    assert (out[2]["width"], out[2]["height"]) == (100, 50)  # untouched
    # metadata agrees with the re-encoded pixels
    assert multimodal.decode_ppm(bytes(out[1]["content"])).shape == (288, 512, 3)
    assert bytes(out[2]["content"]) == multimodal.synth_ppm(100, 50, seed=5)


def test_frame_sampling_explosion(spark):
    from lakehouse_adventureworks2022_spark.operators import mp4

    df = spark.createDataFrame(
        [(1, bytearray(mp4.synth_mp4(35, 16, 16, seed=3)), "video/mp4",
          16, 16, 3500),  # 35 frames at 10 fps
         (2, bytearray(multimodal.synth_ppm(10, 10)),
          "image/x-portable-pixmap", 10, 10, None)],
        schema=multimodal.ASSET_SCHEMA,
    )
    rows = multimodal.sample_frames(df, every_ms=1000).collect()
    offsets = sorted(r["frame_offset_ms"] for r in rows)
    assert offsets == [0, 1000, 2000, 3000]  # 3.5 s → 4 frames
    assert all(r["asset_id"] == 1 for r in rows)  # images filtered out


# ---- perceptual-hash image near-dup (round 5) ------------------------

def _ppm_assets(spark, items):
    from lakehouse_adventureworks2022_spark.operators.multimodal import ASSET_SCHEMA

    rows = [(i, data, "image/x-portable-pixmap", None, None, None) for i, data in items]
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def _structured(h, w, f1=20.0, f2=15.0):
    """Natural-image stand-in: smooth gradients + sinusoidal texture.
    (dHash presumes images with STRUCTURE — on pure noise the pooled
    gradient signs are coin flips, which is correct behavior, not a
    robustness failure.)"""
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    c1 = xx * 255 / w
    c2 = yy * 255 / h
    c3 = (np.sin(xx / f1) + np.sin(yy / f2)) * 63 + 128
    return np.clip(np.stack([c1, c2, c3], axis=2), 0, 255).astype(np.uint8)


def test_dhash_invariances():
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    base = _structured(96, 128)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h0 = mm.dhash64(base)
    # resized copy: same structure, few bits flip
    small = mm.resize_nearest(base, 48)
    assert ham(h0, mm.dhash64(small)) <= 10
    # uniform brightness shift: gradient signs unchanged where unclipped
    brighter = np.clip(base.astype(np.int16) + 25, 0, 255).astype(np.uint8)
    assert ham(h0, mm.dhash64(brighter)) <= 6
    # different texture frequencies: ~half the bits differ
    assert ham(h0, mm.dhash64(_structured(96, 128, f1=7.0, f2=31.0))) >= 16


def _pcm16_wav(x, rate, nch):
    """float samples in [-1, 1], interleaved when ``nch`` > 1 → WAV."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(nch)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes((np.asarray(x) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


@pytest.mark.parametrize("modality", ["image", "audio"])
def test_image_hashes_spark_equals_driver(spark, modality):
    """The Spark-side hash operator equals the driver-side codec +
    hash on the same bytes, per modality (image: dHash of the decoded
    PPM; audio: fingerprint of the decoded WAV, mono and stereo)."""
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    if modality == "image":
        imgs = {
            i: rng.integers(0, 255, size=(32 + i, 40, 3), dtype=np.uint8)
            for i in range(5)
        }
        items = {i: mm.encode_ppm(a) for i, a in imgs.items()}
        op, mime = mm.image_hashes, "image/x-portable-pixmap"
        want = {i: mm.dhash64(a) for i, a in imgs.items()}
    else:
        items = {
            i: _pcm16_wav(
                rng.uniform(-0.8, 0.8, size=(800 + 160 * i) * (1 + i % 2)),
                rate=8000 * (1 + i % 2),
                nch=1 + i % 2,
            )
            for i in range(5)
        }
        op, mime = mm.audio_hashes, "audio/wav"
        want = {
            i: mm.audio_fingerprint64(*mm.decode_wav(b)[:2])
            for i, b in items.items()
        }
    assets = spark.createDataFrame(
        [(i, bytearray(b), mime, None, None, None) for i, b in items.items()],
        mm.ASSET_SCHEMA,
    )
    got = {r["asset_id"]: r["dhash"] for r in op(assets).collect()}
    assert got == want
    assert len(set(want.values())) == len(want)  # not a degenerate hash


def test_image_near_dup_pairs_end_to_end(spark):
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    base = _structured(80, 100)
    resized = mm.resize_nearest(base, 50)
    brighter = np.clip(base.astype(np.int16) + 20, 0, 255).astype(np.uint8)
    unrelated = _structured(80, 100, f1=6.0, f2=29.0)
    assets = _ppm_assets(
        spark,
        [
            (1, mm.encode_ppm(base)),
            (2, mm.encode_ppm(resized)),
            (3, mm.encode_ppm(brighter)),
            (4, mm.encode_ppm(unrelated)),
        ],
    )
    pairs = {
        (r["asset_a"], r["asset_b"])
        for r in mm.image_near_dup_pairs(assets, max_hamming=10).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_fingerprint_pairs_64bit_equals_naive(spark):
    import random

    from pyspark.sql import functions as F

    from lakehouse_adventureworks2022_spark.operators.dedup import (
        fingerprint_pairs,
    )

    rng = random.Random(42)
    base = rng.getrandbits(63)
    vals = [base]
    for _ in range(20):
        v, flips = base, rng.sample(range(64), rng.randint(1, 12))
        for b in flips:
            v ^= 1 << b
        vals.append(v - (1 << 64) if v >= 1 << 63 else v)
    vals += [rng.getrandbits(63) for _ in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, simhash long"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in fingerprint_pairs(df, max_hamming=8, bits=64).collect()
    }
    # naive all-pairs reference
    want = set()
    for i, a in enumerate(vals):
        for j, b in enumerate(vals[i + 1 :], start=i + 1):
            h = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if h <= 8:
                want.add((i, j, h))
    assert got == want  # pigeonhole candidates are EXACT, not approximate


# ---- audio fingerprint near-dup + asset-cleaning composite -----------

def test_audio_fingerprint_invariances():
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    def fp_of(wav_bytes):
        x, rate, _, _ = mm.decode_wav(wav_bytes)
        return mm.audio_fingerprint64(x, rate)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # a melody (note per frame) — the fingerprint is DELTA-based, so it
    # needs time-varying content; on a stationary tone the frame deltas
    # are quantization noise (correct behavior, not a robustness gap)
    def melody(rate, amp=0.5, notes=(330, 440, 550, 660, 880, 740, 620, 500, 410)):
        import io
        import wave

        n_per = int(rate * 900 / 1000 / len(notes))
        xs = []
        for f in notes:
            t = np.arange(n_per) / rate
            xs.append(np.sin(2 * np.pi * f * t))
        pcm = (np.concatenate(xs) * amp * 32767).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(1)
            f.setsampwidth(2)
            f.setframerate(rate)
            f.writeframes(pcm.tobytes())
        return buf.getvalue()

    h0 = fp_of(melody(8000))
    # volume-near-invariant (log-energy differences cancel the scalar;
    # residual bits are PCM16 quantization noise on near-zero deltas)
    assert ham(h0, fp_of(melody(8000, amp=0.12))) <= 8
    # resampled rendition of the same content: bands are absolute Hz
    assert ham(h0, fp_of(melody(16000))) <= 12
    # different melody: far
    assert (
        ham(h0, fp_of(melody(8000, notes=(900, 350, 1500, 450, 2000, 600, 1100, 300, 1700))))
        >= 20
    )


def test_clean_assets_composite(spark):
    import numpy as np

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm
    from lakehouse_adventureworks2022_spark.operators.multimodal import ASSET_SCHEMA

    base = _structured(80, 100)
    img1 = mm.encode_ppm(base)
    img1_exact = bytes(img1)  # byte-identical copy
    img1_resized = mm.encode_ppm(mm.resize_nearest(base, 50))
    img_other = mm.encode_ppm(_structured(80, 100, f1=6.0, f2=29.0))
    wav1 = mm.synth_wav(400, rate=8000, freq=440.0)
    wav1_exact = bytes(wav1)
    wav_other = mm.synth_wav(400, rate=8000, freq=1800.0)
    rows = [
        (1, img1, "image/x-portable-pixmap", None, None, None),
        (2, img1_exact, "image/x-portable-pixmap", None, None, None),
        (3, img1_resized, "image/x-portable-pixmap", None, None, None),
        (4, img_other, "image/x-portable-pixmap", None, None, None),
        (5, wav1, "audio/wav", None, None, None),
        (6, wav1_exact, "audio/wav", None, None, None),
        (7, wav_other, "audio/wav", None, None, None),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    kept = sorted(
        r["asset_id"]
        for r in mm.clean_assets(assets, max_hamming=10).collect()
    )
    # 2 (exact image dup), 3 (perceptual image dup), 6 (exact audio dup)
    # collapse into asset 1 / 5; the distinct image+audio survive
    assert kept == [1, 4, 5, 7]


# ---- PNG decode (stdlib zlib; r6) -------------------------------------

def _filter_rows(rows, filters, bpp):
    """Apply the given per-row PNG filter types (0-4) to a (h, stride)
    byte matrix, returning the filtered stream (filter byte + row each).
    Previous-row state starts at zeros — per image OR per Adam7 pass."""
    import numpy as np

    raw = bytearray()
    prev = np.zeros(rows.shape[1], dtype=np.int16)
    for r in range(rows.shape[0]):
        row = rows[r].astype(np.int16)
        ft = filters[r % len(filters)]
        if ft == 0:
            enc = row.copy()
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            enc = (row - left) % 256
        elif ft == 2:  # Up
            enc = (row - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            enc = (row - ((left + prev) // 2)) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (row - pred) % 256
        raw += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = row
    return bytes(raw)


def _png_chunk(tag, payload):
    import struct
    import zlib

    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def _filtered_png(arr, filters):
    """Build an RGB PNG applying the given per-row filter types (0-4) —
    an independent encoder so decode_png's unfilter path is tested
    against the spec, not against encode_png's filter-0-only output."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    raw = _filter_rows(a.reshape(h, w * 3), filters, bpp=3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        multimodal.PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _adam7_png(arr, filters):
    """Independent Adam7-interlaced RGB encoder: each pass's sub-image
    is filtered on its own (prev-row resets per pass, per the spec)."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    raw = bytearray()
    for x0, y0, dx, dy in ADAM7:
        sub = a[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        raw += _filter_rows(sub.reshape(ph, pw * 3), filters, bpp=3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        multimodal.PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_roundtrip_and_all_filter_types():
    import numpy as np

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
    # filter-0 round trip through the module's own encoder
    assert np.array_equal(multimodal.decode_png(multimodal.encode_png(arr)), arr)
    # every filter type (cycled per row) through the independent encoder
    png = _filtered_png(arr, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(multimodal.decode_png(png), arr)


def test_png_color_type_variants_and_named_stub():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    def build(color, payload_arr, plte=None, interlace=0):
        def chunk(tag, payload):
            crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", crc)
            )

        h, w = payload_arr.shape[:2]
        ch = payload_arr.shape[2] if payload_arr.ndim == 3 else 1
        raw = b"".join(
            b"\x00" + payload_arr[r].tobytes() for r in range(h)
        )
        out = multimodal.PNG_MAGIC + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace)
        )
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    gray = np.arange(24, dtype=np.uint8).reshape(4, 6)
    got = multimodal.decode_png(build(0, gray))
    assert got.shape == (4, 6, 3) and np.array_equal(got[:, :, 0], gray)

    # palette: indices into a 4-color PLTE
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], np.uint8)
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    assert np.array_equal(multimodal.decode_png(build(3, idx, plte)), plte[idx])

    # RGBA: alpha dropped
    rgba = np.dstack([gray, gray, gray, np.full_like(gray, 128)])
    assert np.array_equal(
        multimodal.decode_png(build(6, rgba)), np.dstack([gray] * 3)
    )

    # sub-8-bit depth raises the NAMED stub error, honesty contract intact
    four_bit = multimodal.PNG_MAGIC + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 6, 4, 4, 0, 0, 0, 0)
    ) + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 16)) + _png_chunk(
        b"IEND", b""
    )
    with _pytest.raises(NotImplementedError, match="depth=4"):
        multimodal.decode_png(four_bit)

    # unknown interlace method is a hard error, not silent garbage
    bad = multimodal.PNG_MAGIC + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 0, 0, 0, 2)
    ) + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 28)) + _png_chunk(
        b"IEND", b""
    )
    with _pytest.raises(ValueError, match="interlace"):
        multimodal.decode_png(bad)


def test_png_adam7_interlaced_decode():
    """Adam7 decode (r7, closing the r6 named stub): every pass is
    unfiltered independently and scattered by stride. Sizes chosen to
    exercise empty passes (1x1 has six empty passes) and ragged pass
    widths; the Up filter on each pass's first row proves the prev-row
    state resets per pass, not per image."""
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (2, 3), (5, 7), (8, 8), (17, 13), (9, 16)]:
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for filters in ([0], [2], [0, 1, 2, 3, 4]):
            got = multimodal.decode_png(_adam7_png(arr, filters))
            assert np.array_equal(got, arr), (h, w, filters)
    # interlaced and sequential encodings of the same pixels agree
    arr = rng.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_png(_adam7_png(arr, [4])),
        multimodal.decode_png(_filtered_png(arr, [4])),
    )


def test_png_16bit_decode_keeps_high_byte():
    """16-bit PNG (r7): the decoder keeps each sample's big-endian high
    byte — the 255/65535 scaling the 8-bit feature path expects. The
    filter distance is bpp=2*channels per the spec (checked by the Sub
    filter over a two-pixel-wide image)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    samples16 = (hi.astype(np.uint16) << 8) | lo
    payload = samples16.astype(">u2").tobytes()
    stride = 6 * 3 * 2
    raw = b"".join(
        b"\x00" + payload[r * stride : (r + 1) * stride] for r in range(4)
    )
    png = multimodal.PNG_MAGIC + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 6, 4, 16, 2, 0, 0, 0)
    ) + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    assert np.array_equal(multimodal.decode_png(png), hi)

    # Sub filter at 16-bit: distance is 6 bytes (3 ch × 2 bytes)
    a16 = np.array([[[10, 20, 30], [40, 50, 60]]], dtype=np.uint16) << 8
    row = a16.astype(">u2").tobytes()
    enc = bytearray(row)
    for i in range(6, len(enc)):
        enc[i] = (enc[i] - row[i - 6]) & 0xFF
    png = multimodal.PNG_MAGIC + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0)
    ) + _png_chunk(
        b"IDAT", zlib.compress(b"\x01" + bytes(enc))
    ) + _png_chunk(b"IEND", b"")
    assert np.array_equal(
        multimodal.decode_png(png), (a16 >> 8).astype(np.uint8)
    )


def test_png_assets_flow_through_real_feature_and_hash_paths(spark):
    """The same pixels as PNG and as PPM must produce IDENTICAL features
    and dHash through the mapInPandas paths — PNG is a real decode,
    not a stub (r5 verdict #7)."""
    import numpy as np

    arr = multimodal.decode_ppm(multimodal.synth_ppm(40, 30, seed=3))
    assets = spark.createDataFrame(
        [
            (1, bytearray(multimodal.encode_ppm(arr)), "image/x-ppm", 40, 30, None),
            (2, bytearray(multimodal.encode_png(arr)), "image/png", 40, 30, None),
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


def test_attach_real_assets_roundtrip_and_dedup(spark):
    """attach_real_assets (r7): every generated byte decodes through the
    real codecs, identical texts produce byte-identical assets, and the
    same seed rendered as JPEG vs PNG lands within a few dHash bits —
    the cross-format near-dup source the composite relies on."""
    import hashlib

    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),  # jpeg
        (1, "the quick brown fox jumps over the lazy dog"),  # png, SAME seed
        (2, "pack my box with five dozen liquor jugs"),  # ppm
        (3, "sphinx of black quartz judge my vow"),  # wav
        (4, "the quick brown fox jumps over the lazy dog"),  # jpeg dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assets = {r["asset_id"]: r for r in mm.attach_real_assets(docs).collect()}
    assert assets[0]["mime"] == "image/jpeg"
    assert assets[1]["mime"] == "image/png"
    assert assets[2]["mime"] == "image/x-portable-pixmap"
    assert assets[3]["mime"] == "audio/wav"
    # every byte decodes for real
    assert mm.decode_jpeg(bytes(assets[0]["content"])).shape == (24, 36, 3)
    assert mm.decode_png(bytes(assets[1]["content"])).shape == (24, 36, 3)
    assert mm.decode_ppm(bytes(assets[2]["content"])).shape == (24, 36, 3)
    import io
    import wave

    with wave.open(io.BytesIO(bytes(assets[3]["content"])), "rb") as f:
        assert f.getsampwidth() == 2 and f.getnchannels() == 1
    # identical text + same modality => byte-identical (exact-dup source)
    assert hashlib.md5(bytes(assets[0]["content"])).digest() == hashlib.md5(
        bytes(assets[4]["content"])
    ).digest()
    # same seed through JPEG vs PNG: perceptually near (cross-format)
    d_jpg = mm.dhash64(mm.decode_jpeg(bytes(assets[0]["content"])))
    d_png = mm.dhash64(mm.decode_png(bytes(assets[1]["content"])))
    assert bin((d_jpg ^ d_png) & ((1 << 64) - 1)).count("1") <= 6


def test_clean_assets_real_path_end_to_end(spark):
    """The catalog composite shape on real assets: exact dups collapse,
    cross-format near-dups canonicalize, distinct seeds all survive."""
    from lakehouse_adventureworks2022_spark.operators import multimodal as mm

    texts = [f"document body number {i} with distinct words {i*7}" for i in range(12)]
    rows = [(i, texts[i]) for i in range(12)]
    # plant: 12+13 duplicate text 0 (13 is WAV-slot: 13%4==1 -> png...)
    rows += [(12, texts[0]), (25, texts[1])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assets = mm.attach_real_assets(docs)
    survivors = {
        r["asset_id"]
        for r in mm.clean_assets(assets, max_hamming=6).collect()
    }
    # 0 (jpeg) and 12 (ppm, 12%4==0 -> jpeg: byte-identical) collapse
    assert not ({0, 12} <= survivors)
    # 1 (png) vs 25 (25%4==1 -> png, same text): byte-identical collapse
    assert not ({1, 25} <= survivors)
    # every distinct seed keeps exactly one representative
    assert len(survivors) >= 10
