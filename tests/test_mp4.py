"""MP4 container parsing + MJPEG frame extraction (operators/mp4.py).

The parser is tested against an INDEPENDENT hand-packed file whose
layout differs from the module's own muxer on every axis the spec
allows — multi-sample chunks (stsc runs), co64 64-bit offsets, uniform
stsz, an explicit stss subset, a largesize mdat — so the sample-table
math is checked against ISO/IEC 14496-12, not against mux_mjpeg's
one-frame-per-chunk output (the same independent-encoder pattern as
the JPEG and PNG suites)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from lakehouse_adventureworks2022_spark.operators import mp4, multimodal
from lakehouse_adventureworks2022_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + tag + payload


def _full(tag: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + payload)


def _handpacked_mp4(payloads, codec=b"jpeg"):
    """5 equal-size samples laid out as chunks of [2, 2, 1] samples,
    co64 offsets, uniform stsz, stss marking samples 1 and 3, largesize
    mdat, timescale 50 with 10-tick deltas (200 ms)."""
    assert len(payloads) == 5
    size = len(payloads[0])
    assert all(len(p) == size for p in payloads)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mdat_body = b"".join(payloads)
    # largesize form: size=1 marker + 64-bit size after the tag
    mdat = (
        struct.pack(">I", 1)
        + b"mdat"
        + struct.pack(">Q", len(mdat_body) + 16)
        + mdat_body
    )
    base = len(ftyp) + 16
    chunk_offs = [base, base + 2 * size, base + 4 * size]

    stsd_entry = (
        struct.pack(">I", 86)
        + codec
        + b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", 32, 24)
        + struct.pack(">II", 0x480000, 0x480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)
    )
    stbl = _box(
        b"stbl",
        _full(b"stsd", struct.pack(">I", 1) + stsd_entry)
        + _full(b"stts", struct.pack(">III", 1, 5, 10))
        + _full(
            b"stsc",
            struct.pack(">I", 2)
            + struct.pack(">III", 1, 2, 1)  # chunks 1-2: 2 samples each
            + struct.pack(">III", 3, 1, 1),  # chunk 3: 1 sample
        )
        + _full(b"stsz", struct.pack(">II", size, 5))  # uniform size
        + _full(
            b"co64",
            struct.pack(">I", 3)
            + b"".join(struct.pack(">Q", o) for o in chunk_offs),
        )
        + _full(b"stss", struct.pack(">III", 2, 1, 3)),
    )
    mdia = _box(
        b"mdia",
        _full(
            b"mdhd",
            struct.pack(">II", 0, 0)
            + struct.pack(">II", 50, 50)  # timescale 50, duration 50
            + struct.pack(">HH", 0x55C4, 0),
        )
        + _full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 13)
        + _box(b"minf", stbl),
    )
    trak = _box(b"trak", mdia)
    moov = _box(
        b"moov",
        _full(
            b"mvhd",
            struct.pack(">II", 0, 0)
            + struct.pack(">II", 50, 50)
            + struct.pack(">I", 0x00010000)
            + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        + trak,
    )
    return ftyp + mdat + moov


def test_parser_against_handpacked_spec_layout():
    payloads = [bytes([65 + i]) * 40 for i in range(5)]
    data = _handpacked_mp4(payloads)
    meta = mp4.parse_mp4(data)
    assert meta["brand"] == "isom"
    assert meta["duration_ms"] == 1000  # 50 ticks at timescale 50
    (tr,) = meta["tracks"]
    assert tr["handler"] == "vide" and tr["codec"] == "jpeg"
    assert (tr["width"], tr["height"]) == (32, 24)
    assert tr["sample_count"] == 5
    # dts: 10-tick deltas at timescale 50 = 200 ms apart
    assert [s[2] for s in tr["samples"]] == [0, 200, 400, 600, 800]
    # keyframes: exactly the stss entries (1-based samples 1 and 3)
    assert [s[3] for s in tr["samples"]] == [True, False, True, False, False]
    # offsets/sizes recover the exact payload bytes across chunk runs
    got = [data[o : o + n] for o, n, _, _ in tr["samples"]]
    assert got == payloads


def test_extract_named_stub_and_no_video_track():
    payloads = [bytes([65 + i]) * 40 for i in range(5)]
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4.extract_mjpeg_frames(_handpacked_mp4(payloads, codec=b"avc1"))
    with pytest.raises(ValueError, match="too short|no ftyp"):
        mp4.parse_mp4(b"\x00\x00")


def test_mux_parse_roundtrip_and_sampling():
    rng = np.random.default_rng(3)
    frames = []
    for i in range(4):
        arr = np.full((24, 32, 3), 40 + 50 * i, dtype=np.uint8)
        frames.append(encode_jpeg(arr, quality=85))
    v = mp4.mux_mjpeg(frames, fps=5, width=32, height=24)
    meta = mp4.parse_mp4(v)
    (tr,) = meta["tracks"]
    assert tr["codec"] == "jpeg" and tr["sample_count"] == 4
    assert meta["duration_ms"] == 800  # 4 frames at 5 fps
    got = mp4.extract_mjpeg_frames(v)
    assert [ms for ms, _ in got] == [0, 200, 400, 600]
    assert [b for _, b in got] == frames  # byte-exact payload recovery
    # every_ms picks the latest frame at or before each offset
    sampled = mp4.extract_mjpeg_frames(v, every_ms=500)
    assert [ms for ms, _ in sampled] == [0, 400]
    # and each extracted payload decodes through the real JPEG path
    for _, b in got:
        assert decode_jpeg(b).shape == (24, 32, 3)


def test_synth_mp4_adjacent_frames_near_far():
    v = mp4.synth_mp4(6, 32, 24, seed=2)
    frames = [decode_jpeg(b) for _, b in mp4.extract_mjpeg_frames(v)]
    assert all(f.shape == (24, 32, 3) for f in frames)
    deltas = [
        float(np.abs(frames[i + 1].astype(float) - frames[i].astype(float)).mean())
        for i in range(5)
    ]
    far = float(np.abs(frames[-1].astype(float) - frames[0].astype(float)).mean())
    assert far > max(deltas)  # phase drifts: ends differ more than steps


def test_sample_frames_real_path(spark):
    v1 = mp4.synth_mp4(5, 32, 24, seed=1)
    v2 = mp4.synth_mp4(3, 32, 24, seed=9)
    assets = spark.createDataFrame(
        [
            (1, bytearray(v1), "video/mp4", 32, 24, 500),
            (2, bytearray(v2), "video/mp4", 32, 24, 300),
            (3, bytearray(multimodal.synth_ppm(8, 8)), "image/x-ppm", 8, 8, None),
        ],
        multimodal.ASSET_SCHEMA,
    )
    rows = sorted(
        multimodal.sample_frames(assets, every_ms=200).collect(),
        key=lambda r: (r["asset_id"], r["frame_offset_ms"]),
    )
    # non-video rows dropped; offsets = latest sample ≤ each 200 ms tick
    assert [(r["asset_id"], r["frame_offset_ms"]) for r in rows] == [
        (1, 0), (1, 200), (1, 400), (2, 0), (2, 200),
    ]
    for r in rows:
        assert r["mime"] == "image/jpeg"
        assert decode_jpeg(bytes(r["content"])).shape == (24, 32, 3)


def test_video_assets_flow_through_real_feature_and_hash_paths(spark):
    """An MJPEG MP4's features/dHash equal those of its decoded middle
    frame — video is first-class in the image machinery."""
    v = mp4.synth_mp4(5, 32, 24, seed=4)
    mid = decode_jpeg(mp4.extract_mjpeg_frames(v)[2][1])
    assets = spark.createDataFrame(
        [(7, bytearray(v), "video/mp4", 32, 24, 500)],
        multimodal.ASSET_SCHEMA,
    )
    (feat_row,) = multimodal.extract_features(assets).collect()
    assert np.allclose(feat_row["features"], multimodal.image_features(mid))
    (hash_row,) = multimodal.image_hashes(assets).collect()
    assert hash_row["dhash"] == multimodal.dhash64(mid)


def test_clean_assets_collapses_duplicate_videos(spark):
    """Exact-dup videos collapse via md5; the same video content under
    two ids keeps only the canonical — through the REAL codec path."""
    v = mp4.synth_mp4(4, 32, 24, seed=5)
    other = mp4.synth_mp4(4, 32, 24, seed=60)
    assets = spark.createDataFrame(
        [
            (1, bytearray(v), "video/mp4", 32, 24, 400),
            (2, bytearray(v), "video/mp4", 32, 24, 400),
            (3, bytearray(other), "video/mp4", 32, 24, 400),
        ],
        multimodal.ASSET_SCHEMA,
    )
    kept = sorted(
        r["asset_id"]
        for r in multimodal.clean_assets(assets).collect()
    )
    assert kept == [1, 3]


# ---- bytes-level video near-dup for non-decodable codecs (r8) --------


def _fake_h264_mp4(payloads, keyframes, fps=10):
    """An H.264-shaped container via the real muxer: avc1 sample entry,
    real sample tables, an explicit stss — the payloads are opaque NAL
    stand-ins (the keyframe-hash path never decodes them)."""
    return mp4.mux_mjpeg(
        payloads, fps=fps, width=64, height=48,
        codec=b"avc1", keyframes=keyframes,
    )


def test_muxer_stss_and_codec_fourcc_roundtrip():
    payloads = [bytes([i]) * (20 + i) for i in range(5)]
    data = _fake_h264_mp4(payloads, keyframes=[0, 3])
    meta = mp4.parse_mp4(data)
    tr = meta["tracks"][0]
    assert tr["codec"] == "avc1"
    keys = [bool(k) for (_, _, _, k) in tr["samples"]]
    assert keys == [True, False, False, True, False]
    # payload bytes come back exactly
    for (off, size, _, _), want in zip(tr["samples"], payloads):
        assert data[off : off + size] == want
    # pixel decode for avc1 stays the named stub
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4.extract_mjpeg_frames(data)
    with pytest.raises(ValueError, match="fourcc"):
        mp4.mux_mjpeg(payloads, codec=b"toolong5")
    with pytest.raises(ValueError, match="out of range"):
        mp4.mux_mjpeg(payloads, keyframes=[5])


def test_video_keyframe_hashes_and_near_dup_pairs(spark):
    """Planted-duplicate H.264 containers: A and B share the same
    keyframe payloads (B re-muxed at another fps with extra non-key
    frames), C is different material, D is MJPEG (absent stss ⇒ every
    frame a keyframe). The near-dup pair must be exactly (A, B), found
    WITHOUT any pixel decode."""
    import hashlib

    kf1, kf2 = b"\x65" + b"I-frame-one" * 9, b"\x65" + b"I-frame-two" * 9
    delta = b"\x41" + b"p" * 40
    vid_a = _fake_h264_mp4([kf1, delta, kf2], keyframes=[0, 2], fps=10)
    vid_b = _fake_h264_mp4(
        [kf1, delta, delta, kf2, delta], keyframes=[0, 3], fps=25
    )
    other = b"\x65" + b"different material" * 6
    vid_c = _fake_h264_mp4([other, delta], keyframes=[0], fps=10)
    vid_d = mp4.synth_mp4(3, 32, 24, seed=9)  # MJPEG, no stss
    rows = [
        (1, bytearray(vid_a), "video/mp4", 64, 48, 300),
        (2, bytearray(vid_b), "video/mp4", 64, 48, 200),
        (3, bytearray(vid_c), "video/mp4", 64, 48, 200),
        (4, bytearray(vid_d), "video/mp4", 32, 24, 300),
        (5, bytearray(b"not a video"), "text/plain", None, None, None),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    keys = multimodal.video_keyframe_hashes(assets).collect()
    by_asset = {}
    for r in keys:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert set(by_asset) == {1, 2, 3, 4}  # non-video filtered out
    assert len(by_asset[1]) == 2 and len(by_asset[2]) == 2
    assert len(by_asset[3]) == 1
    assert len(by_asset[4]) == 3  # MJPEG: every frame is a sync sample
    assert {r["codec"] for r in by_asset[1]} == {"avc1"}
    # md5 is of the exact payload bytes
    want = hashlib.md5(kf1).hexdigest()
    assert want in {r["payload_md5"] for r in by_asset[1]}
    assert want in {r["payload_md5"] for r in by_asset[2]}

    pairs = multimodal.video_near_dup_pairs(assets, min_overlap=0.5).collect()
    assert [(p["a"], p["b"], p["shared"]) for p in pairs] == [(1, 2, 2)]
    assert pairs[0]["overlap"] == 1.0


def test_keyframe_hashes_skip_assets_without_video_track(spark):
    """(r9) An MP4 whose only track is audio ('soun' handler) yields NO
    keyframe rows: hashing audio samples as 'keyframes' would let two
    unrelated videos sharing one soundtrack pair up in
    video_near_dup_pairs."""
    payloads = [bytes([65 + i]) * 40 for i in range(5)]
    data = _handpacked_mp4(payloads)
    assert data.count(b"vide") == 1  # only the hdlr box
    audio_only = data.replace(b"vide", b"soun")
    (tr,) = mp4.parse_mp4(audio_only)["tracks"]
    assert tr["handler"] == "soun"
    rows = [(1, bytearray(audio_only), "video/mp4", None, None, 1000)]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    assert multimodal.video_keyframe_hashes(assets).count() == 0


def _nal(t, payload_len=10, ref_idc=1):
    return bytes([(ref_idc << 5) | t]) + b"\x00" * (payload_len - 1)


def _avc_sample(*units, length_size=4):
    return b"".join(
        len(u).to_bytes(length_size, "big") + u for u in units
    )


def test_nal_unit_parsing_and_idr_detection():
    """ISO 14496-15 length-prefixed samples split into typed NAL units;
    IDR presence is the stream-level keyframe test, agreeing with the
    container's stss on well-formed files."""
    idr_sample = _avc_sample(_nal(7, 8), _nal(8, 4), _nal(5, 40))
    p_sample = _avc_sample(_nal(1, 40))
    got = mp4.parse_nal_units(idr_sample)
    assert [(t, name) for t, name, _ in got] == [
        (7, "sps"), (8, "pps"), (5, "idr")
    ]
    assert [ln for _, _, ln in got] == [8, 4, 40]
    assert mp4.sample_is_idr(idr_sample)
    assert not mp4.sample_is_idr(p_sample)
    # 2-byte length prefixes parse too
    two = _avc_sample(_nal(5, 6), length_size=2)
    assert mp4.sample_is_idr(two, length_size=2)
    # cross-check against the container: mux with stss marking sample 0,
    # payloads built so the stream agrees
    data = mp4.mux_mjpeg(
        [idr_sample, p_sample, p_sample], codec=b"avc1", keyframes=[0]
    )
    tr = mp4.parse_mp4(data)["tracks"][0]
    for (off, size, _, key) in tr["samples"]:
        assert mp4.sample_is_idr(data[off : off + size]) == bool(key)


def test_nal_parser_rejects_malformed():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated NAL length"):
        mp4.parse_nal_units(b"\x00\x00\x01")  # 3 bytes < 4-byte prefix
    with _pytest.raises(ValueError, match="overruns"):
        mp4.parse_nal_units(b"\x00\x00\x00\x10" + b"\x65")  # claims 16, has 1
    with _pytest.raises(ValueError, match="empty NAL"):
        mp4.parse_nal_units(b"\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="forbidden_zero_bit"):
        mp4.parse_nal_units(_avc_sample(b"\xe5" + b"\x00" * 5))
    with _pytest.raises(ValueError, match="length_size"):
        mp4.parse_nal_units(b"", length_size=3)
