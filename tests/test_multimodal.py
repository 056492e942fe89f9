"""operators.multimodal — binary-column plumbing: Arrow batch shape,
real BMP/WAV/raw-video codecs, honest NotImplementedError for formats
that need external libraries, payload pruning.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from incremental_github_data_pipeline_spark.operators import multimodal as mm
from incremental_github_data_pipeline_spark.operators import quality
from incremental_github_data_pipeline_spark.operators import text as tx
from incremental_github_data_pipeline_spark.sources import archives, avro
from incremental_github_data_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    make_fake_media,
    metadata_profile,
)


def test_fake_media_deterministic(spark):
    a = make_fake_media(spark, n=16).collect()
    b = make_fake_media(spark, n=16).collect()
    assert a == b
    assert {r["kind"] for r in a} == {"image", "audio", "video"}


def test_extract_features_shape_and_determinism(spark):
    media = make_fake_media(spark, n=32)
    feats = extract_features(media, dim=8, fake=True)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 32
    for r in rows.values():
        assert len(r["feature"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["feature"])
    # payload length rides through
    assert rows[0]["n_bytes"] == 128
    assert rows[31]["n_bytes"] == 128 + 31
    again = {r["media_id"]: r for r in extract_features(media, 8, fake=True).collect()}
    assert {k: v["feature"] for k, v in rows.items()} == {
        k: v["feature"] for k, v in again.items()
    }


def test_extract_features_honest_stub(spark):
    media = make_fake_media(spark, n=4)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        extract_features(media, fake=False).collect()


def test_metadata_profile_prunes_payload(spark, tmp_path):
    """Written to parquet, the metadata query's scan must not read the
    binary payload column (ReadSchema pruning — the 100 TB contract)."""
    path = str(tmp_path / "media")
    make_fake_media(spark, n=32).write.parquet(path)
    prof = metadata_profile(spark.read.parquet(path))
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan
    assert prof.count() == 3  # one row per kind


def test_frame_sample_plan_counts(spark):
    media = make_fake_media(spark, n=9)  # media_ids 2,5,8 are video
    plan = frame_sample_plan(media, every_ms=1000)
    got = {
        r["media_id"]: r["n"]
        for r in plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # duration_ms = 1000*i; frames at 0,1000,...,duration-1 step 1000 → i frames (i>0)
    assert got == {2: 2, 5: 5, 8: 8}


# ---------------------------------------------------------------------------
# Real codecs
# ---------------------------------------------------------------------------


def test_bmp_roundtrip_including_row_padding():
    # widths whose 3-byte rows need 4-byte padding (17*3=51 -> pad 1,
    # 1*3=3 -> pad 1) and widths that don't (16*3=48)
    for w, h in [(16, 12), (17, 11), (3, 2), (1, 1)]:
        rng = np.random.default_rng(w * 100 + h)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px)


def test_wav_roundtrip():
    s = ((np.arange(1000) * 13) % 4096 - 2048).astype(np.int16)
    sr, out = mm.decode_wav(mm.encode_wav(s, 8000))
    assert sr == 8000
    assert np.array_equal(out, s)


def test_wav_stereo16_roundtrip():
    l = ((np.arange(500) * 13) % 4096 - 2048).astype(np.int16)
    r = ((np.arange(500) * 7) % 4096 - 2048).astype(np.int16)
    s = np.stack([l, r], axis=1)
    sr, out = mm.decode_wav(mm.encode_wav(s, 8000))
    assert sr == 8000 and out.shape == (500, 2)
    assert np.array_equal(out, s)  # channels de-interleave, not swap
    assert np.array_equal(mm.downmix_mono(out), (l.astype(np.int64) + r) // 2)


def test_wav_8bit_roundtrip():
    # 8-bit WAV is unsigned with silence at 128; decode recentres and
    # upscales to the int16 lattice so amplitudes compare across depths
    u = ((np.arange(700) * 11) % 256).astype(np.uint8)
    sr, out = mm.decode_wav(mm.encode_wav(u, 8000, sampwidth=1))
    assert sr == 8000
    assert np.array_equal(out, (u.astype(np.int16) - 128) * 256)


def test_wav_stereo8_roundtrip():
    u0 = ((np.arange(300) * 11) % 256).astype(np.uint8)
    u1 = ((np.arange(300) * 5 + 7) % 256).astype(np.uint8)
    s = np.stack([u0, u1], axis=1)
    _, out = mm.decode_wav(mm.encode_wav(s, 8000, sampwidth=1))
    assert out.shape == (300, 2)
    assert np.array_equal(out[:, 0], (u0.astype(np.int16) - 128) * 256)
    assert np.array_equal(out[:, 1], (u1.astype(np.int16) - 128) * 256)


def test_wav_unsupported_shapes_raise():
    import struct as _struct

    s = np.zeros(10, dtype=np.int16)
    payload = bytearray(mm.encode_wav(s, 8000))
    # patch fmt chunk to 3 channels (offset 22 in the canonical header)
    payload[22:24] = _struct.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        mm.decode_wav(bytes(payload))


def test_wav_24bit_roundtrip_exact():
    """r14: 24-bit PCM decodes EXACTLY onto the int32 lattice — no
    downshift — including sign-extension across the full range."""
    s = (
        np.arange(-400, 400, dtype=np.int64) * 20947 % (1 << 24)
        - (1 << 23)
    ).astype(np.int32)
    sr, out = mm.decode_wav(mm.encode_wav(s, 8000, sampwidth=3))
    assert out.dtype == np.int32 and np.array_equal(out, s)
    # extremes of the lattice survive
    edge = np.array([-(1 << 23), (1 << 23) - 1, -1, 0, 1], np.int32)
    _, out = mm.decode_wav(mm.encode_wav(edge, 8000, sampwidth=3))
    assert np.array_equal(out, edge)
    st = np.stack([s[:256], -s[:256] - 1], axis=1).astype(np.int32)
    _, out = mm.decode_wav(mm.encode_wav(st, 8000, sampwidth=3))
    assert out.shape == (256, 2) and np.array_equal(out, st)


def test_wav_24bit_overflow_and_32bit_guard():
    with pytest.raises(ValueError, match="24-bit lattice"):
        mm.encode_wav(np.array([1 << 23], np.int32), sampwidth=3)
    import struct as _struct

    payload = bytearray(mm.encode_wav(np.zeros(4, np.int16), 8000))
    # patch fmt to 32-bit (block align offset 32, bits offset 34)
    payload[32:34] = _struct.pack("<H", 4)
    payload[34:36] = _struct.pack("<H", 32)
    with pytest.raises(NotImplementedError, match="24-bit PCM"):
        mm.decode_wav(bytes(payload))


def test_wav_variant_media_decode_stats(spark):
    """decode_stats over the stereo/8-bit generator: per-channel means
    and the channel-mean downmix match the closed-form content."""
    stats = {
        r["media_id"]: r
        for r in mm.decode_stats(mm.make_wav_variant_media(spark, n=6)).collect()
    }
    assert len(stats) == 6
    for i in range(6):
        r = stats[1000 + i]
        m = mm._wav_variant_frames(i)
        bits = 16 if i % 3 == 0 else 8
        ch = 1 if i % 3 == 1 else 2

        def dec(c):
            raw = mm._wav_channel(i, c, m, bits).astype(np.int64)
            return raw if bits == 16 else (raw - 128) * 256

        assert r["n_samples"] == m and r["n_channels"] == ch
        assert abs(r["mean_ch0"] - dec(0).mean()) < 1e-9
        if ch == 2:
            assert abs(r["mean_ch1"] - dec(1).mean()) < 1e-9
            mono = (dec(0) + dec(1)) // 2
        else:
            assert r["mean_ch1"] is None
            mono = dec(0)
        assert abs(r["mean_abs_sample"] - np.abs(mono).mean()) < 1e-9


def test_rawvideo_roundtrip():
    fr = mm._video_frames(2)
    frames, frame_ms = mm.decode_rawvideo(mm.encode_rawvideo(fr, frame_ms=100))
    assert frame_ms == 100
    assert np.array_equal(frames, fr)


def test_decode_stats_closed_form(spark):
    stats = {
        r["media_id"]: r
        for r in mm.decode_stats(mm.make_real_media(spark, n=9)).collect()
    }
    assert len(stats) == 9
    px = mm._image_pixels(0)
    r0 = stats[0]
    assert (r0["width"], r0["height"]) == (px.shape[1], px.shape[0])
    assert abs(r0["mean_r"] - px[:, :, 0].mean()) < 1e-9
    assert abs(r0["mean_b"] - px[:, :, 2].mean()) < 1e-9
    s = mm._audio_samples(1)
    r1 = stats[1]
    assert r1["n_samples"] == len(s)
    assert r1["sample_rate"] == mm.WAV_SAMPLE_RATE
    assert r1["duration_ms"] == len(s) * 1000 // mm.WAV_SAMPLE_RATE
    assert abs(r1["mean_abs_sample"] - np.abs(s.astype(np.int64)).mean()) < 1e-9
    fr = mm._video_frames(2)
    r2 = stats[2]
    assert r2["n_frames"] == fr.shape[0]
    assert (r2["width"], r2["height"]) == (fr.shape[2], fr.shape[1])
    assert abs(r2["mean_g"] - fr[:, :, :, 1].mean()) < 1e-9


def test_extract_features_real_decoders(spark):
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_features(
            mm.make_real_media(spark, n=9), dim=8, fake=False
        ).collect()
    }
    assert len(feats) == 9
    px = mm._image_pixels(0)
    assert abs(feats[0][0] - px[:, :, 0].mean() / 255.0) < 1e-6
    fr = mm._video_frames(2)
    assert feats[2][0] == fr.shape[0]  # frame count rides in slot 0
    for v in feats.values():
        assert len(v) == 8
        assert all(np.isfinite(v))


def test_resize_images_block_mean(spark):
    media = mm.make_real_media(spark, n=3)  # id 0: 16x12 BMP image
    rows = {r["media_id"]: r for r in mm.resize_images(media, 8, 6).collect()}
    px = mm._image_pixels(0)
    dec = mm.decode_bmp(bytes(rows[0]["payload"]))
    # 16x12 -> 8x6 divides evenly: area average IS the exact 2x2 block mean
    ref = np.clip(
        np.round(px.astype(np.float64).reshape(6, 2, 8, 2, 3).mean(axis=(1, 3))),
        0,
        255,
    ).astype(np.uint8)
    assert dec.shape == (6, 8, 3)
    assert np.array_equal(dec, ref)
    assert (rows[0]["width"], rows[0]["height"]) == (8, 6)
    # non-image rows pass through bit-identical
    orig = {r["media_id"]: r for r in media.collect()}
    assert bytes(rows[1]["payload"]) == bytes(orig[1]["payload"])
    assert bytes(rows[2]["payload"]) == bytes(orig[2]["payload"])


def test_sample_frames_real(spark):
    media = mm.make_real_media(spark, n=9)  # video ids 2, 5, 8
    rows = mm.sample_frames(media, every_ms=250).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    # n_frames = 3+(i%6): id2 -> 5 (500ms), id5 -> 8 (800ms), id8 -> 5
    assert {k: len(v) for k, v in by_id.items()} == {2: 2, 5: 4, 8: 2}
    assert [r["ts_ms"] for r in sorted(by_id[5], key=lambda r: r["ts_ms"])] == [
        0,
        250,
        500,
        750,
    ]
    fr = mm._video_frames(5)
    last = max(by_id[5], key=lambda r: r["ts_ms"])
    assert last["frame_idx"] == 7
    assert abs(last["frame_mean"] - fr[7].mean()) < 1e-9


# ---------------------------------------------------------------------------
# Property-based codec round-trips (no Spark session — pure codecs)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_property(w, h, seed):
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px)


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=5000),
    sr=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip_property(n, sr, seed):
    s = (
        np.random.default_rng(seed)
        .integers(-(2**15), 2**15, size=n)
        .astype(np.int16)
    )
    sr_out, out = mm.decode_wav(mm.encode_wav(s, sr))
    assert sr_out == sr
    assert np.array_equal(out, s)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=10),
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    frame_ms=st.integers(min_value=1, max_value=1000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_rawvideo_roundtrip_property(n, w, h, frame_ms, seed):
    fr = np.random.default_rng(seed).integers(
        0, 256, size=(n, h, w, 3), dtype=np.uint8
    )
    frames, ms = mm.decode_rawvideo(mm.encode_rawvideo(fr, frame_ms))
    assert ms == frame_ms
    assert np.array_equal(frames, fr)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=30),
    h=st.integers(min_value=1, max_value=30),
    out_w=st.integers(min_value=1, max_value=10),
    out_h=st.integers(min_value=1, max_value=10),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_resample_bounds_property(w, h, out_w, out_h, seed):
    """Area-average resample output stays inside the input value range
    for ANY size combination — downscales, upscales (nearest-neighbor
    degradation, no zero-width cells), and non-divisible boundaries —
    and survives a BMP encode/decode round-trip."""
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    small = mm.area_resample(px, out_w, out_h)
    assert small.shape == (out_h, out_w, 3)
    assert small.min() >= px.min()
    assert small.max() <= px.max()
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(small)), small)
    # identity resize is lossless
    assert np.array_equal(mm.area_resample(px, w, h), px)


# ---------------------------------------------------------------------------
# Baseline JPEG codec (T.81 sequential DCT)
# ---------------------------------------------------------------------------


def test_jpeg_uniform_blocks_roundtrip_exact():
    """Flat 8x8 blocks round-trip exactly under the flat q=8 table —
    the property the q_media_jpeg_stats closed-form oracle relies on,
    including non-multiple-of-8 crop handling."""
    for i in (0, 5, 13, 31):
        w, h, px = mm._jpeg_block_values(i)
        dec = mm.decode_jpeg(mm.encode_jpeg(px))
        assert dec.shape == (h, w)
        assert (dec == px).all()


def test_jpeg_grayscale_lossy_bounded():
    """Arbitrary content decodes within the quantization error budget
    (flat q=8: every coefficient off by <= 4 pre-IDCT)."""
    rng = np.random.RandomState(7)
    grad = (np.arange(24)[:, None] * 5 + np.arange(40)[None, :] * 3).astype(
        np.uint8
    )
    noise = rng.randint(0, 256, (17, 23)).astype(np.uint8)
    for img in (grad, noise):
        dec = mm.decode_jpeg(mm.encode_jpeg(img))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 16


def test_jpeg_color_444_roundtrip():
    """3-component 4:4:4 path: uniform color loses only the YCbCr
    rounding (<= 2/channel); structured content stays within the
    quantization budget."""
    col = np.zeros((16, 16, 3), np.uint8)
    col[:, :] = (200, 30, 90)
    dec = mm.decode_jpeg(mm.encode_jpeg(col))
    assert dec.shape == col.shape
    assert np.abs(dec.astype(int) - col.astype(int)).max() <= 2
    grad = np.stack(
        [
            (np.arange(16)[:, None] * 9 + np.arange(24)[None, :] * 4 + 40 * c)
            % 256
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    dec2 = mm.decode_jpeg(mm.encode_jpeg(grad))
    assert np.abs(dec2.astype(int) - grad.astype(int)).max() <= 24


def test_jpeg_rejects_unsupported_features():
    payload = bytearray(mm.encode_jpeg(np.full((8, 8), 77, np.uint8)))
    # not a JPEG
    with pytest.raises(ValueError, match="SOI"):
        mm.decode_jpeg(b"\x00\x01\x02")
    # arithmetic-coded frame: flip SOF0 (FFC0) to SOF9 (FFC9)
    sof = bytes(payload).find(b"\xff\xc0")
    arith = bytearray(payload)
    arith[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF9"):
        mm.decode_jpeg(bytes(arith))
    # 12-bit precision: flip the SOF precision byte (marker+len, then B)
    deep = bytearray(payload)
    deep[sof + 4] = 12
    with pytest.raises(NotImplementedError, match="precision"):
        mm.decode_jpeg(bytes(deep))


def test_jpeg_bitstream_byte_stuffing_roundtrip():
    """Content engineered to emit 0xFF bytes in the entropy stream must
    survive stuffing/unstuffing (all-ones padding makes FF runs
    likely; scan a spread of fills to hit one)."""
    hit = False
    for v in range(0, 256, 17):
        img = np.full((8, 16), v, np.uint8)
        img[:, 8:] = 255 - v
        enc = mm.encode_jpeg(img)
        sos = enc.find(b"\xff\xda")
        hit = hit or b"\xff\x00" in enc[sos:]
        assert (mm.decode_jpeg(enc) == img).all()
    assert hit, "no test image exercised byte stuffing"


def test_jpeg_media_pipeline(spark):
    """make_jpeg_media → jpeg_decode_stats end-to-end matches the
    closed-form block values; extract_features(fake=False) handles the
    image/jpeg mime."""
    media = mm.make_jpeg_media(spark, n=6)
    stats = {r["media_id"]: r for r in mm.jpeg_decode_stats(media).collect()}
    for i in range(6):
        w, h, px = mm._jpeg_block_values(i)
        assert stats[i]["width"] == w and stats[i]["height"] == h
        assert stats[i]["pixel_sum"] == int(px.astype(np.int64).sum())
    feats = extract_features(media, dim=8, fake=False).collect()
    assert len(feats) == 6
    for r in feats:
        w, h, px = mm._jpeg_block_values(r["media_id"])
        assert abs(r["feature"][0] - px.mean() / 255.0) < 1e-6


# ---------------------------------------------------------------------------
# PNG codec (round 4)
# ---------------------------------------------------------------------------


def test_png_roundtrip_all_filters_both_modes():
    rgb = mm._png_pixels(4)   # truecolor
    gray = mm._png_pixels(5)  # grayscale
    for f in range(5):
        for px in (rgb, gray):
            rt = mm.decode_png(mm.encode_png(px, filters=[f]))
            assert rt.shape == px.shape and (rt == px).all(), f"filter {f}"


def test_png_roundtrip_random_content():
    rng = np.random.default_rng(7)
    for shape in [(1, 1, 3), (1, 9, 3), (11, 1), (23, 17, 3), (16, 16)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert (mm.decode_png(mm.encode_png(px)) == px).all()


def test_png_rejects_bad_payloads():
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"BM" + b"\x00" * 60)
    good = mm.encode_png(mm._png_pixels(0))
    # corrupt one IDAT byte -> CRC check must catch it
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))


def test_png_rejects_unsupported_variants():
    # sub-byte TRUECOLOR (not a spec combo) and 16-bit PALETTE must
    # raise, not mis-decode (1/2/4-bit grayscale/indexed decode for
    # real since r8)
    _s = __import__("struct")
    for depth, ctype in [(4, 2), (1, 2), (2, 2), (16, 3)]:
        ihdr = _s.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, 0)
        payload = mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
        with pytest.raises(NotImplementedError):
            mm.decode_png(payload)


# ---------------------------------------------------------------------------
# G.711 codec (round 4)
# ---------------------------------------------------------------------------


def test_g711_itu_reference_values():
    # canonical anchors from the G.711 tables
    assert mm.MULAW_TABLE[0xFF] == 0          # +0
    assert mm.MULAW_TABLE[0x7F] == 0          # -0
    assert mm.MULAW_TABLE[0x80] == 32124      # max magnitude, sign flip
    assert mm.MULAW_TABLE[0x00] == -32124
    assert mm.ALAW_TABLE[0x55] == 8           # smallest positive
    assert mm.ALAW_TABLE[0xD5] == -8
    assert mm.ALAW_TABLE[0x2A] == 32256       # max magnitude
    assert mm.ALAW_TABLE[0xAA] == -32256
    # both tables must be odd-symmetric under sign-bit flip
    for c in range(128):
        assert mm.MULAW_TABLE[c] == -mm.MULAW_TABLE[c | 0x80]
        assert mm.ALAW_TABLE[c | 0x80] == -mm.ALAW_TABLE[c]


def test_g711_wav_roundtrip_and_chunk_walk():
    codes = mm._g711_codes(3)
    for law, table in (("mulaw", mm.MULAW_TABLE), ("alaw", mm.ALAW_TABLE)):
        payload = mm.encode_wav_g711(codes, law=law, sample_rate=8000)
        sr, pcm = mm.decode_wav_g711(payload)
        assert sr == 8000 and (pcm == table[codes]).all()
    # chunk walk must skip unknown chunks (LIST metadata before data)
    import struct as st
    payload = mm.encode_wav_g711(codes, law="mulaw")
    extra = b"LIST" + st.pack("<I", 4) + b"INFO"
    patched = payload[:12] + extra + payload[12:]
    patched = b"RIFF" + st.pack("<I", len(patched) - 8) + patched[8:]
    sr, pcm = mm.decode_wav_g711(patched)
    assert sr == 8000 and len(pcm) == len(codes)


def test_g711_pcm_fallback_and_unknown_tag():
    s = np.arange(-50, 50, dtype=np.int16)
    sr, rt = mm.decode_wav_g711(mm.encode_wav(s))
    assert sr == mm.WAV_SAMPLE_RATE and (rt == s).all()
    import struct as st
    fmt = st.pack("<HHIIHHH", 2, 1, 8000, 8000, 1, 8, 0)  # ADPCM tag
    body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", 2) + b"\x00\x00")
    with pytest.raises(NotImplementedError, match="format tag"):
        mm.decode_wav_g711(b"RIFF" + st.pack("<I", len(body)) + body)


def test_png_g711_media_pipelines(spark):
    png_stats = {
        r["media_id"]: r
        for r in mm.png_decode_stats(mm.make_png_media(spark, n=12)).collect()
    }
    assert len(png_stats) == 12
    for i, r in png_stats.items():
        px = mm._png_pixels(i).astype(np.int64)
        assert r["pixel_sum"] == int(px.sum())
        assert r["channels"] == (3 if i % 2 == 0 else 1)
    g711 = {
        r["media_id"]: r
        for r in mm.g711_decode_stats(mm.make_g711_media(spark, n=12)).collect()
    }
    assert len(g711) == 12
    for i, r in g711.items():
        table = mm.MULAW_TABLE if i % 2 == 0 else mm.ALAW_TABLE
        pcm = table[mm._g711_codes(i)].astype(np.int64)
        assert r["sum_abs"] == int(np.abs(pcm).sum())
        assert r["sum_pos"] == int(pcm[pcm > 0].sum())


# ---------------------------------------------------------------------------
# IMA ADPCM (round 4)
# ---------------------------------------------------------------------------


def test_adpcm_expand_known_transitions():
    # single max-magnitude positive nibble (7) from initial state:
    # step=7 -> diff = 0 + 7 + 3 + 1 = 11, pred 0 -> 11, index 0 -> 8
    out = mm.adpcm_expand(np.array([7], dtype=np.uint8))
    assert out[0] == 11
    # sign bit: nibble 15 = -(same magnitude)
    assert mm.adpcm_expand(np.array([15], dtype=np.uint8))[0] == -11
    # index clamps at 0: nibble 0 keeps index 0, tiny positive step
    out = mm.adpcm_expand(np.array([0, 0], dtype=np.uint8))
    assert out[0] == 0 and out[1] == 0  # diff = 7>>3 = 0
    # predictor clamps at int16 bounds under sustained max nibbles
    big = mm.adpcm_expand(np.array([7] * 200, dtype=np.uint8))
    assert big.max() == 32767


def test_adpcm_wav_roundtrip_and_rejects():
    nib = mm._adpcm_nibbles(5)
    sr, pcm = mm.decode_wav_adpcm(mm.encode_wav_adpcm(nib))
    assert sr == 8000 and len(pcm) == len(nib) + 1 and pcm[0] == 0
    assert (pcm[1:] == mm.adpcm_expand(nib)).all()
    with pytest.raises(ValueError, match="even"):
        mm.encode_wav_adpcm(np.array([1], dtype=np.uint8))
    with pytest.raises(NotImplementedError, match="IMA ADPCM"):
        mm.decode_wav_adpcm(mm.encode_wav(np.zeros(4, dtype=np.int16)))


def test_adpcm_media_pipeline(spark):
    stats = {
        r["media_id"]: r
        for r in mm.adpcm_decode_stats(mm.make_adpcm_media(spark, n=8)).collect()
    }
    assert len(stats) == 8
    for i, r in stats.items():
        pcm = np.concatenate(
            [[0], mm.adpcm_expand(mm._adpcm_nibbles(i))]
        ).astype(np.int64)
        assert r["n_samples"] == len(pcm)
        assert r["sum_abs"] == int(np.abs(pcm).sum())
        assert r["last_sample"] == int(pcm[-1])


# ---------------------------------------------------------------------------
# GIF / LZW (round 4)
# ---------------------------------------------------------------------------


def test_gif_lzw_roundtrip_matrix():
    rng = np.random.default_rng(11)
    for ncol, shape in [(2, (5, 5)), (4, (7, 9)), (16, (64, 64)), (256, (40, 40))]:
        pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        idx = rng.integers(0, ncol, size=shape, dtype=np.uint8)
        assert (mm.decode_gif(mm.encode_gif(idx, pal)) == pal[idx]).all()


def test_gif_lzw_kwkwk_and_dictionary_overflow():
    # constant raster drives the KwKwK decoder branch
    pal = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    idx = np.zeros((3, 50), dtype=np.uint8)
    assert (mm.decode_gif(mm.encode_gif(idx, pal)) == pal[idx]).all()
    # high-entropy raster overflows the 4096-entry dict -> clear/reset path
    rng = np.random.default_rng(2)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(120, 120), dtype=np.uint8)
    assert (mm.decode_gif(mm.encode_gif(idx, pal)) == pal[idx]).all()


def test_gif_lzw_stream_ending_at_width_boundary():
    # Regression (hypothesis, round 5): a stream whose LAST data code
    # lands exactly where the dictionary fills the current width. The
    # encoder's flush adds no dict entry, so an add-keyed decoder bump
    # rule reads END one bit wide and dies with "truncated LZW
    # stream"; the per-read (giflib) rule keeps both sides in step.
    data = bytes([4, 4, 0, 2, 4, 3])  # mcs=3: next_code hits 15 at flush
    assert mm._lzw_decompress(mm._lzw_compress(data, 3), 3) == data
    # sweep every length over a no-repeat pattern so each width
    # boundary is crossed at (and next to) the flush for several mcs
    for mcs in (2, 3, 4):
        for n in range(1, 120):
            d = bytes((i * 7 + 3) % (1 << mcs) for i in range(n))
            assert mm._lzw_decompress(mm._lzw_compress(d, mcs), mcs) == d


def test_gif_rejects_and_skips_extensions():
    with pytest.raises(ValueError, match="not a GIF"):
        mm.decode_gif(b"PNG........")
    idx, ncol = mm._gif_indices(3)
    payload = mm.encode_gif(idx, mm._gif_palette(ncol))
    # splice a graphic-control extension after the screen descriptor +
    # color table: the decoder must skip it
    n_colors = 2 << (payload[10] & 7)
    cut = 13 + n_colors * 3
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    patched = payload[:cut] + ext + payload[cut:]
    assert (mm.decode_gif(patched) == mm.decode_gif(payload)).all()


# ---------------------------------------------------------------------------
# QOI
# ---------------------------------------------------------------------------


def test_qoi_round_trip_structured_and_random():
    import numpy as np

    from incremental_github_data_pipeline_spark.operators.multimodal import (
        _qoi_pixels,
        decode_qoi,
        encode_qoi,
    )

    for i in (0, 7, 31):
        px = _qoi_pixels(i)
        assert (decode_qoi(encode_qoi(px)) == px).all()
    rng = np.random.default_rng(5)
    rand = rng.integers(0, 256, size=(13, 29, 3), dtype=np.uint8)
    assert (decode_qoi(encode_qoi(rand)) == rand).all()


def test_qoi_stream_uses_every_op_class():
    """The closed-form raster must exercise RUN, DIFF, LUMA, INDEX and
    RGB chunks — otherwise the oracle query certifies a degenerate
    encoder."""
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        _qoi_pixels,
        encode_qoi,
    )

    seen = set()
    for i in range(8):
        data = encode_qoi(_qoi_pixels(i))
        pos = 14
        while pos < len(data) - 8:
            b0 = data[pos]
            if b0 == 0xFE:
                seen.add("rgb"); pos += 4
            elif b0 >> 6 == 0:
                seen.add("index"); pos += 1
            elif b0 >> 6 == 1:
                seen.add("diff"); pos += 1
            elif b0 >> 6 == 2:
                seen.add("luma"); pos += 2
            else:
                seen.add("run"); pos += 1
    assert seen == {"rgb", "index", "diff", "luma", "run"}


def test_qoi_rejects_corrupt_payloads():
    import pytest as _pytest

    from incremental_github_data_pipeline_spark.operators.multimodal import (
        _qoi_pixels,
        decode_qoi,
        encode_qoi,
    )

    good = bytearray(encode_qoi(_qoi_pixels(3)))
    with _pytest.raises(ValueError, match="not a QOI"):
        decode_qoi(b"nope" + bytes(good[4:]))
    truncated_marker = bytes(good[:-1]) + b"\x02"
    with _pytest.raises(ValueError, match="end marker"):
        decode_qoi(truncated_marker)


def test_ahash_separates_planted_pairs_from_strangers():
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        _ahash_pixels,
        ahash_bits,
    )

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    hashes = {i: ahash_bits(_ahash_pixels(i)) for i in range(8)}
    partners = {i: ahash_bits(_ahash_pixels(i + 100)) for i in range(8)}
    assert all(ham(hashes[i], partners[i]) <= 4 for i in range(8))
    strangers = [
        ham(hashes[i], hashes[j]) for i in range(8) for j in range(i + 1, 8)
    ]
    assert min(strangers) > 4  # threshold separates cleanly


def test_ahash_requires_divisible_dims():
    import numpy as np
    import pytest as _pytest

    from incremental_github_data_pipeline_spark.operators.multimodal import ahash_bits

    with _pytest.raises(ValueError, match="divisible"):
        ahash_bits(np.zeros((10, 16, 3), dtype=np.uint8))


def test_png_palette_round_trip_and_contract():
    import numpy as np
    import pytest as _pytest

    from incremental_github_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png_palette,
    )

    rng = np.random.default_rng(11)
    idx = rng.integers(0, 7, size=(9, 13), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    assert (decode_png(encode_png_palette(idx, pal)) == pal[idx]).all()
    with _pytest.raises(ValueError, match="at most 256"):
        encode_png_palette(idx, np.zeros((300, 3), dtype=np.uint8))
    with _pytest.raises(ValueError, match="out of palette range"):
        encode_png_palette(
            np.full((2, 2), 9, dtype=np.uint8), pal
        )


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG (round 6)
# ---------------------------------------------------------------------------


def test_png_interlaced_roundtrip_edge_sizes():
    """Every (w, h) in 1..9 square grid, both modes: empty passes
    (w or h below a pass offset) must contribute zero bytes and the
    scatter must land every pixel."""
    rng = np.random.default_rng(11)
    for w in range(1, 10):
        for h in range(1, 10):
            for shape in [(h, w), (h, w, 3)]:
                px = rng.integers(0, 256, size=shape, dtype=np.uint8)
                rt = mm.decode_png(mm.encode_png_interlaced(px))
                assert rt.shape == px.shape
                assert (rt == px).all(), (w, h, len(shape))


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    gray=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_png_interlaced_roundtrip_fuzz(w, h, gray, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(
        0, 256, size=(h, w) if gray else (h, w, 3), dtype=np.uint8
    )
    assert (mm.decode_png(mm.encode_png_interlaced(px)) == px).all()


def test_png_interlaced_each_filter_type():
    px = mm._png_ipixels(6)   # truecolor, passes partially empty
    gpx = mm._png_ipixels(7)  # grayscale
    for f in range(5):
        for p in (px, gpx):
            rt = mm.decode_png(mm.encode_png_interlaced(p, filters=[f]))
            assert (rt == p).all(), f"filter {f}"


def test_png_interlaced_truncated_pass_raises():
    good = mm.encode_png_interlaced(mm._png_ipixels(3))
    # re-deflate a truncated filtered stream: drop the final byte
    import struct as _s
    import zlib as _z

    idat_at = good.index(b"IDAT")
    (length,) = _s.unpack_from(">I", good, idat_at - 4)
    raw = _z.decompress(good[idat_at + 4 : idat_at + 4 + length])
    bad_idat = _z.compress(raw[:-1])
    bad = (
        good[: idat_at - 4]
        + _s.pack(">I", len(bad_idat))
        + b"IDAT"
        + bad_idat
        + _s.pack(">I", _z.crc32(b"IDAT" + bad_idat))
        + good[idat_at + 8 + length :]
    )
    with pytest.raises(ValueError, match="IDAT length"):
        mm.decode_png(bad)


# ---------------------------------------------------------------------------
# 16-bit PNG (round 6)
# ---------------------------------------------------------------------------


def test_png16_roundtrip_straight_and_interlaced():
    rng = np.random.default_rng(3)
    for trial in range(20):
        h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        gray = bool(rng.integers(0, 2))
        px = rng.integers(
            0, 65536, (h, w) if gray else (h, w, 3)
        ).astype(np.uint16)
        for enc in (mm.encode_png, mm.encode_png_interlaced):
            out = mm.decode_png(enc(px))
            assert out.dtype == np.uint16
            assert out.shape == px.shape and (out == px).all()


def test_png16_each_filter_type():
    px = mm._png16_pixels(2)   # truecolor
    gpx = mm._png16_pixels(3)  # grayscale
    for f in range(5):
        for p in (px, gpx):
            assert (mm.decode_png(mm.encode_png(p, filters=[f])) == p).all()


def test_png16_big_endian_sample_order():
    # one pixel, value 0x0102: the IDAT byte stream must carry
    # hi-byte first (filter 0 row: [0x00, 0x01, 0x02])
    import zlib as _z

    px = np.array([[0x0102]], dtype=np.uint16)
    payload = mm.encode_png(px, filters=[0])
    idat_at = payload.index(b"IDAT")
    (length,) = __import__("struct").unpack_from(">I", payload, idat_at - 4)
    raw = _z.decompress(payload[idat_at + 4 : idat_at + 4 + length])
    assert raw == b"\x00\x01\x02"
    assert mm.decode_png(payload)[0, 0] == 0x0102


# ---------------------------------------------------------------------------
# Progressive JPEG (round 6)
# ---------------------------------------------------------------------------


def test_jpeg_progressive_matches_baseline_decode():
    """The progressive scan script ends at Al=0, so decoded
    coefficients — hence pixels — must equal the baseline encoding's
    decode bit-for-bit, for flat-block AND arbitrary content."""
    for i in range(8):
        _w, _h, px = mm._jpeg_block_values(i)
        assert (
            mm.decode_jpeg(mm.encode_jpeg_progressive(px)) == px
        ).all(), f"flat {i}"
    rng = np.random.default_rng(5)
    for trial in range(10):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        gray = bool(rng.integers(0, 2))
        px = rng.integers(
            0, 256, (h, w) if gray else (h, w, 3)
        ).astype(np.uint8)
        base = mm.decode_jpeg(mm.encode_jpeg(px))
        prog = mm.decode_jpeg(mm.encode_jpeg_progressive(px))
        assert base.shape == prog.shape and (base == prog).all()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 32),
    h=st.integers(1, 32),
    gray=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_jpeg_progressive_property(w, h, gray, seed):
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w) if gray else (h, w, 3), dtype=np.uint8
    )
    base = mm.decode_jpeg(mm.encode_jpeg(px))
    prog = mm.decode_jpeg(mm.encode_jpeg_progressive(px))
    assert (base == prog).all()


def test_jpeg_progressive_uses_multiblock_eob_runs():
    """Flat images have all-zero AC bands, so the AC-first scans must
    compress entire block rasters into EOBn runs (r > 0) — assert the
    payload actually went through that path by being far smaller than
    one EOB symbol per block would allow."""
    px = np.full((64, 64), 200, np.uint8)  # 64 blocks, every AC zero
    payload = mm.encode_jpeg_progressive(px)
    # EOBn collapses 64 empty blocks per scan to ~2 bytes; per-block
    # EOBs (baseline table) would need >= 64 bits per AC scan
    assert len(payload) < len(mm.encode_jpeg(px)) + 40
    assert (mm.decode_jpeg(payload) == px).all()


# ---------------------------------------------------------------------------
# 4:2:0 chroma subsampling + restart intervals (round 6)
# ---------------------------------------------------------------------------


def test_jpeg_420_exact_on_neutral_gray_blocks():
    """Neutral-gray RGB (Cb=Cr=128 exactly -> zero chroma coefficients)
    with per-8x8-block-uniform luma round-trips EXACTLY through the
    subsampled path, with and without restart intervals."""
    for i in range(6):
        _w, _h, g = mm._jpeg_block_values(i)
        rgb = np.repeat(g[:, :, None], 3, axis=2)
        for ri in (0, 1, 3):
            dec = mm.decode_jpeg(mm.encode_jpeg_420(rgb, restart_interval=ri))
            assert dec.shape == rgb.shape and (dec == rgb).all(), (i, ri)


def test_jpeg_420_smooth_color_content_close():
    h, w = 33, 41
    grad = np.stack(
        [
            np.clip(
                np.arange(h)[:, None] * 2 + np.arange(w)[None, :] + 40 * c,
                0,
                255,
            )
            for c in range(3)
        ],
        axis=2,
    ).astype(np.uint8)
    for ri in (0, 2, 7):
        dec = mm.decode_jpeg(mm.encode_jpeg_420(grad, restart_interval=ri))
        assert np.abs(dec.astype(int) - grad.astype(int)).max() <= 12


def test_jpeg_420_odd_dims_and_payload_sanity(spark=None):
    rng = np.random.default_rng(9)
    for _ in range(8):
        h, w = int(rng.integers(1, 37)), int(rng.integers(1, 37))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        d = mm.decode_jpeg(
            mm.encode_jpeg_420(px, restart_interval=int(rng.integers(0, 4)))
        )
        assert d.shape == px.shape
    # the payload really is subsampled: smaller than the 4:4:4 encoding
    flat = np.full((48, 48, 3), 150, np.uint8)
    assert len(mm.encode_jpeg_420(flat)) < len(mm.encode_jpeg(flat))


def test_jpeg_420_restart_markers_present_and_reset():
    _w, _h, g = mm._jpeg_block_values(3)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    with_rst = mm.encode_jpeg_420(rgb, restart_interval=1)
    without = mm.encode_jpeg_420(rgb)
    # DRI segment + at least one RSTn marker byte pair
    assert b"\xff\xdd" in with_rst and b"\xff\xdd" not in without
    assert any(bytes([0xFF, 0xD0 + m]) in with_rst for m in range(8))
    assert (mm.decode_jpeg(with_rst) == mm.decode_jpeg(without)).all()


def test_jpeg_progressive_420_matches_sequential_420():
    """The progressive scan script over 4:2:0 planes must decode
    bit-identically to the sequential 4:2:0 encoding (same quantized
    coefficients), and exactly on the neutral-gray block fixture."""
    rng = np.random.default_rng(13)
    for _ in range(6):
        h, w = int(rng.integers(1, 37)), int(rng.integers(1, 37))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        seq = mm.decode_jpeg(mm.encode_jpeg_420(px))
        prog = mm.decode_jpeg(
            mm.encode_jpeg_progressive(px, subsample_420=True)
        )
        assert seq.shape == prog.shape and (seq == prog).all()
    for i in range(4):
        _w, _h, g = mm._jpeg_block_values(i)
        rgb = np.repeat(g[:, :, None], 3, axis=2)
        dec = mm.decode_jpeg(
            mm.encode_jpeg_progressive(rgb, subsample_420=True)
        )
        assert (dec == rgb).all()


# ---------------------------------------------------------------------------
# Sub-byte-depth PNG (round 8): 1/2/4-bit grayscale + indexed
# ---------------------------------------------------------------------------


def test_png_lowdepth_roundtrip_edge_sizes():
    """Every depth x mode x a size grid including widths that are and
    aren't byte-aligned at each depth: grayscale scales by exactly
    255/(2**depth-1); indexed goes through PLTE; interlaced passes
    re-pad at their own widths."""
    rng = np.random.default_rng(7)
    for depth in (1, 2, 4):
        mult = 255 // ((1 << depth) - 1)
        for w, h in [(1, 1), (8, 2), (9, 3), (5, 4), (16, 5), (23, 11)]:
            s = rng.integers(0, 1 << depth, size=(h, w), dtype=np.uint8)
            pal = rng.integers(0, 256, size=(1 << depth, 3), dtype=np.uint8)
            for interlace in (False, True):
                gray = mm.decode_png(
                    mm.encode_png_lowdepth(s, depth, interlace=interlace)
                )
                assert np.array_equal(gray, s * mult), (depth, w, h)
                idx = mm.decode_png(
                    mm.encode_png_lowdepth(
                        s, depth, palette=pal, interlace=interlace
                    )
                )
                assert np.array_equal(idx, pal[s]), (depth, w, h)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    depth=st.sampled_from([1, 2, 4]),
    indexed=st.booleans(),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_png_lowdepth_roundtrip_fuzz(w, h, depth, indexed, interlace, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(0, 1 << depth, size=(h, w), dtype=np.uint8)
    pal = (
        rng.integers(0, 256, size=(1 << depth, 3), dtype=np.uint8)
        if indexed
        else None
    )
    got = mm.decode_png(
        mm.encode_png_lowdepth(s, depth, palette=pal, interlace=interlace)
    )
    want = pal[s] if indexed else s * (255 // ((1 << depth) - 1))
    assert np.array_equal(got, want)


def test_png_lowdepth_pad_bits_are_ignored():
    """A width that leaves pad bits in every row: flip the pad bits in
    the packed raster by hand and the decode must not change (spec:
    pad bits are arbitrary; packers usually zero them)."""
    depth, w, h = 2, 5, 3  # 10 bits/row -> 6 pad bits in byte 2
    s = (np.arange(h * w, dtype=np.uint8) % 4).reshape(h, w)
    raster = mm._pack_sub_byte(s, depth)
    dirty = raster.copy()
    dirty[:, -1] |= 0x3F  # set all six pad bits
    assert np.array_equal(mm._unpack_sub_byte(dirty, w, depth), s)


def test_png_lowdepth_encoder_contract():
    with pytest.raises(ValueError):
        mm.encode_png_lowdepth(np.array([[1]], dtype=np.uint8), 3)
    with pytest.raises(ValueError):
        mm.encode_png_lowdepth(np.array([[4]], dtype=np.uint8), 2)
    with pytest.raises(ValueError):
        mm.encode_png_lowdepth(
            np.array([[0]], dtype=np.uint8),
            1,
            palette=np.zeros((3, 3), dtype=np.uint8),
        )


def test_png_lowdepth_media_pipeline(spark):
    """The fixture + stats pipeline: decoded stats at every depth must
    equal the closed-form recomputation (the q_media_png_lowdepth_stats
    oracle contract, pinned here without DuckDB)."""
    rows = {
        r["media_id"]: r
        for r in mm.png_decode_stats(
            mm.make_png_lowdepth_media(spark, n=12)
        ).collect()
    }
    assert len(rows) == 12
    for i, r in rows.items():
        depth = (1, 2, 4)[i % 3]
        nv, mult = 1 << depth, 255 // ((1 << depth) - 1)
        w, h = 5 + (i % 11), 4 + (i % 9)
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        s = (x * 3 + y * 5 + i) % nv
        if i % 2 == 0:
            c = np.arange(3)[None, None, :]
            v = (s[:, :, None] * 29 + c * 47 + i * 7) % 256
            ch = 3
        else:
            v = s * mult
            ch = 1
        wy = (np.arange(h) + 1)[:, None]
        assert (r["width"], r["height"], r["channels"]) == (w, h, ch)
        assert r["pixel_sum"] == int(v.sum())
        assert r["row_weighted_sum"] == int(
            (v.reshape(h, -1).sum(axis=1) * wy.ravel()).sum()
        )


class TestJpeg12Bit:
    """12-bit extended sequential (SOF1) + 16-bit DQT decode."""

    def test_flat_blocks_round_trip_exactly(self):
        for i in (0, 5, 13, 27):
            w, h = 17 + (i % 14), 9 + (i % 12)
            bx, by = np.arange(-(-w // 8)), np.arange(-(-h // 8))
            v = (i * 97 + bx[None, :] * 311 + by[:, None] * 677) % 4096
            px = np.repeat(np.repeat(v, 8, 0), 8, 1)[:h, :w].astype(
                np.uint16
            )
            dec = mm.decode_jpeg(mm.encode_jpeg12(px))
            assert dec.dtype == np.uint16
            assert np.array_equal(dec, px)

    def test_true_16bit_dqt_entry(self):
        # qval=256 needs a genuine 16-bit DQT entry (pq=1); values a
        # multiple of 32 away from 2048 stay exact (DC = 8*(v-2048)/256)
        v = (np.arange(3)[None, :] * 2 + np.arange(2)[:, None] * 5) * 32
        v = v + 2048 - 160
        px = np.repeat(np.repeat(v, 8, 0), 8, 1).astype(np.uint16)
        payload = mm.encode_jpeg12(px, qval=256)
        # the DQT segment really carries pq=1 16-bit entries
        i = payload.index(b"\xff\xdb")
        assert payload[i + 4] == 0x10  # pq=1, tq=0
        assert int.from_bytes(payload[i + 5 : i + 7], "big") == 256
        assert np.array_equal(mm.decode_jpeg(payload), px)

    def test_general_content_lossy_but_bounded(self):
        rng = np.random.RandomState(11)
        px = rng.randint(0, 4096, (24, 32)).astype(np.float64)
        px = (
            (px + np.roll(px, 1, 0) + np.roll(px, 1, 1)) / 3
        ).astype(np.uint16)
        dec = mm.decode_jpeg(mm.encode_jpeg12(px))
        assert dec.shape == px.shape
        assert np.abs(dec.astype(int) - px.astype(int)).max() < 64

    def test_sof0_rejects_12bit(self):
        payload = bytearray(mm.encode_jpeg12(np.full((8, 8), 100, np.uint16)))
        i = payload.index(b"\xff\xc1")
        payload[i + 1] = 0xC0  # rewrite SOF1 -> SOF0 (8-bit only)
        with pytest.raises(NotImplementedError):
            mm.decode_jpeg(bytes(payload))

    def test_encoder_rejects_color(self):
        with pytest.raises(NotImplementedError):
            mm.encode_jpeg12(np.zeros((8, 8, 3), np.uint16))


class TestVideoMotion:
    def test_hand_computed_motion(self, spark):
        # two frames differing by +10 everywhere except one pixel +200
        f0 = np.full((1, 4, 4, 3), 50, np.uint8)
        f1 = f0 + 10
        f2 = f1.copy()
        f2[0, 0, 0, 0] = 255  # 60 -> 255: delta 195 on one element
        frames = np.concatenate([f0, f1, f2])
        payload = mm.encode_rawvideo(frames, frame_ms=40)
        media = spark.createDataFrame(
            [(7, "video", payload, "video/x-raw-rgb", 4, 4, 120)],
            "media_id long, kind string, payload binary, mime string,"
            " width long, height long, duration_ms long",
        )
        r = mm.video_motion_stats(media, cut_threshold=12).collect()[0]
        # pair0: 48 elems x 10 = 480; pair1: 195 (others 0)
        assert r["n_frames"] == 3
        assert r["total_abs_diff"] == 480 + 195
        assert r["max_pair_diff"] == 480
        # cut threshold 12: pair0 mean 10 (no), pair1 mean 195/48>4 (no)
        assert r["n_cuts"] == 0
        r = mm.video_motion_stats(media, cut_threshold=9).collect()[0]
        assert r["n_cuts"] == 1  # pair0 mean 10 > 9; pair1 mean ~4.06 no

    def test_single_frame_video(self, spark):
        payload = mm.encode_rawvideo(
            np.zeros((1, 2, 2, 3), np.uint8), frame_ms=40
        )
        media = spark.createDataFrame(
            [(1, "video", payload, "video/x-raw-rgb", 2, 2, 40)],
            "media_id long, kind string, payload binary, mime string,"
            " width long, height long, duration_ms long",
        )
        r = mm.video_motion_stats(media).collect()[0]
        assert (
            r["n_frames"], r["total_abs_diff"], r["max_pair_diff"],
            r["n_cuts"],
        ) == (1, 0, 0, 0)


class TestVadSegments:
    def _media(self, spark, samples):
        payload = mm.encode_wav(np.asarray(samples, np.int16))
        return spark.createDataFrame(
            [(3, "audio", payload, "audio/wav", None, None, 1000)],
            "media_id long, kind string, payload binary, mime string,"
            " width long, height long, duration_ms long",
        )

    def test_hand_computed_segments(self, spark):
        # 6 frames of 4 samples: voiced pattern 1,1,0,1,0,0 at thr 100
        frames = [
            [200, 200, 200, 200],   # mean 200 voiced
            [101, 101, 101, 101],   # mean 101 voiced
            [50, 50, 50, 50],       # silent
            [-300, 300, -300, 300], # |.| mean 300 voiced
            [0, 0, 0, 0],
            [100, 100, 100, 100],   # mean 100 == thr -> NOT voiced (>)
        ]
        media = self._media(spark, [x for f in frames for x in f])
        r = mm.vad_segments(media, frame_len=4, threshold=100).collect()[0]
        assert (
            r["n_frames"], r["n_voiced"], r["n_segments"],
            r["longest_segment"],
        ) == (6, 3, 2, 2)

    def test_trailing_partial_frame_dropped(self, spark):
        media = self._media(spark, [500] * 10)  # 2 full frames + 2 left
        r = mm.vad_segments(media, frame_len=4, threshold=100).collect()[0]
        assert r["n_frames"] == 2 and r["n_voiced"] == 2

    def test_all_silent(self, spark):
        media = self._media(spark, [0] * 8)
        r = mm.vad_segments(media, frame_len=4, threshold=100).collect()[0]
        assert (r["n_voiced"], r["n_segments"], r["longest_segment"]) == (
            0, 0, 0,
        )


class TestFlac:
    def test_roundtrip_mono_and_stereo_bit_exact(self):
        s = ((np.arange(5000) * 13) % 4096 - 2048).astype(np.int16)
        sr, out = mm.decode_flac(mm.encode_flac(s, 8000, block_size=1024))
        assert sr == 8000 and np.array_equal(out, s)
        st = np.stack(
            [s, ((np.arange(5000) * 7 + 3) % 4096 - 2048).astype(np.int16)],
            axis=1,
        )
        _, out = mm.decode_flac(mm.encode_flac(st, 8000, block_size=777))
        assert out.shape == (5000, 2) and np.array_equal(out, st)

    def test_constant_and_extreme_values(self):
        # constant blocks take the CONSTANT subframe path; int16
        # extremes must survive the 16-bit signed lanes
        s = np.full(600, -32768, dtype=np.int16)
        s[300:] = 32767
        _, out = mm.decode_flac(mm.encode_flac(s, 8000, block_size=300))
        assert np.array_equal(out, s)

    def test_random_noise_roundtrip(self):
        # incompressible input exercises the VERBATIM escape
        rng = np.random.default_rng(7)
        s = rng.integers(-32768, 32768, size=3000, dtype=np.int16)
        payload = mm.encode_flac(s, 8000, block_size=512)
        _, out = mm.decode_flac(payload)
        assert np.array_equal(out, s)

    def test_compresses_smooth_signals(self):
        # the point of FLAC: a smooth ramp (order-1/2 residuals ~0)
        # must come out far smaller than raw PCM
        s = (np.arange(20000) % 8192 - 4096).astype(np.int16)
        payload = mm.encode_flac(s, 8000)
        assert len(payload) < len(s) * 2 * 0.25

    def test_lpc_and_stereo_decorrelation_roundtrip(self):
        """r10: LPC subframes (Levinson-Durbin) and all three stereo
        decorrelations must round-trip bit-exactly; the side channel
        carries 17 bits. r11 widened the order sweep past 8: order 12
        is the flac -8 default tier, 32 the spec maximum."""
        rng = np.random.default_rng(3)
        t = np.arange(9000)
        l = (
            3000 * np.sin(t / 50) + 500 * np.sin(t / 7)
            + rng.normal(0, 40, len(t))
        ).astype(np.int16)
        r = (l * 0.8 + rng.normal(0, 30, len(t))).astype(np.int16)
        st = np.stack([l, r], axis=1)
        sizes = {}
        for mode in (
            "independent", "left_side", "right_side", "mid_side", "auto",
        ):
            for order in (0, 4, 8, 12, 32):
                p = mm.encode_flac(
                    st, 8000, block_size=1024,
                    lpc_order=order, stereo_mode=mode,
                )
                sr, out = mm.decode_flac(p)
                assert sr == 8000 and np.array_equal(out, st), (mode, order)
                sizes[(mode, order)] = len(p)
        # LPC on a tonal signal must actually compress vs fixed, and
        # decorrelation must beat independent on correlated channels
        assert sizes[("mid_side", 8)] < sizes[("independent", 0)]
        # mono LPC too
        p = mm.encode_flac(l, 8000, block_size=777, lpc_order=8)
        _, out = mm.decode_flac(p)
        assert np.array_equal(out, l)

    def test_stereo_decorrelation_int16_extremes(self):
        # side = l - r spans [-65535, 65535]: the full 17-bit lane
        s = np.full(600, -32768, dtype=np.int16)
        s[300:] = 32767
        st = np.stack([s, (-1 - s.astype(np.int64)).astype(np.int16)], axis=1)
        for mode in ("left_side", "right_side", "mid_side"):
            _, out = mm.decode_flac(
                mm.encode_flac(
                    st, 8000, block_size=256, lpc_order=4, stereo_mode=mode
                )
            )
            assert np.array_equal(out, st), mode

    def test_wasted_bits_roundtrip_and_reclaim(self):
        """r10: subframes whose samples share k low zero bits
        (upsampled/low-gain material) emit the wasted-bits header and
        code at sub_bps−k — round-trips bit-exactly and the shifted
        signal must not cost more than the unshifted one."""
        rng = np.random.default_rng(9)
        t = np.arange(6000)
        base = (800 * np.sin(t / 40) + rng.normal(0, 20, len(t))).astype(
            np.int16
        )
        p0 = mm.encode_flac(
            (base >> 6).astype(np.int16), 8000, block_size=512
        )
        for k in (1, 3, 6):
            s = (base >> 6 << k).astype(np.int16)
            p = mm.encode_flac(s, 8000, block_size=512, lpc_order=8)
            _, out = mm.decode_flac(p)
            assert np.array_equal(out, s), k
            assert len(p) <= len(p0) * 1.02, (k, len(p), len(p0))
        # one wasted channel + one normal channel, through decorrelation
        st = np.stack([(base >> 4 << 4).astype(np.int16), base], axis=1)
        for mode in ("independent", "mid_side"):
            p = mm.encode_flac(
                st, 8000, block_size=256, lpc_order=8, stereo_mode=mode
            )
            _, out = mm.decode_flac(p)
            assert np.array_equal(out, st), mode

    def test_frame_numbers_past_2047_roundtrip(self):
        # Regression: the extended-UTF-8 coder used a 4n+6-bit capacity
        # threshold instead of the spec's 5n+1 bits, so frame numbers
        # 2048..16383 picked a 3-byte code built with 2-byte lead bits
        # and emitted undecodable streams. 2100 frames of 16 samples
        # crosses index 2047 cheaply.
        s = ((np.arange(2100 * 16) * 13) % 4096 - 2048).astype(np.int16)
        sr, out = mm.decode_flac(mm.encode_flac(s, 8000, block_size=16))
        assert sr == 8000 and np.array_equal(out, s)

    def test_utf8_code_capacity_boundaries(self):
        # byte-length boundaries of the 5n+1-bit capacity ladder, each
        # value must decode back exactly
        for n, want_len in [
            (0x7F, 1), (0x80, 2), (0x7FF, 2), (0x800, 3), (0xFFFF, 3),
            (0x10000, 4), (0x1FFFFF, 4), (0x200000, 5),
        ]:
            code = mm._utf8_code(n)
            assert len(code) == want_len, (hex(n), code.hex())
            br = mm._BitReader(code)
            assert mm._utf8_decode(br) == n

    def test_corruption_detected_by_crc(self):
        s = ((np.arange(800) * 13) % 4096 - 2048).astype(np.int16)
        payload = bytearray(mm.encode_flac(s, 8000, block_size=800))
        payload[-40] ^= 0x40  # flip a residual bit in the last frame
        with pytest.raises(ValueError):
            mm.decode_flac(bytes(payload))

    def test_md5_signature_verified(self):
        s = ((np.arange(800) * 13) % 4096 - 2048).astype(np.int16)
        payload = bytearray(mm.encode_flac(s, 8000, block_size=400))
        # STREAMINFO md5 lives in bytes 8+18 .. 8+34 of the block body
        payload[26 + 5] ^= 0xFF
        with pytest.raises(ValueError, match="MD5"):
            mm.decode_flac(bytes(payload))

    def test_streaminfo_fields(self):
        st = np.stack(
            [np.zeros(700, dtype=np.int16), np.ones(700, dtype=np.int16)],
            axis=1,
        )
        payload = mm.encode_flac(st, 44100, block_size=256)
        assert payload[:4] == b"fLaC"
        sr, out = mm.decode_flac(payload)
        assert sr == 44100 and out.shape == (700, 2)

    def test_decode_stats_flac_matches_wav_closed_form(self, spark):
        """decode_stats over FLAC media must reproduce the same
        closed-form per-channel sums as the WAV generator — the decode
        path is lossless end-to-end through Spark."""
        stats = {
            r["media_id"]: r
            for r in mm.decode_stats(mm.make_flac_media(spark, n=4)).collect()
        }
        for i in range(4):
            r = stats[2000 + i]
            m = mm._wav_variant_frames(i)
            ch = 2 if i % 2 == 0 else 1
            c0 = mm._wav_channel(i, 0, m, 16).astype(np.int64)
            assert r["n_samples"] == m and r["n_channels"] == ch
            assert abs(r["mean_ch0"] - c0.mean()) < 1e-9
            if ch == 2:
                c1 = mm._wav_channel(i, 1, m, 16).astype(np.int64)
                assert abs(r["mean_ch1"] - c1.mean()) < 1e-9
                mono = (c0 + c1) // 2
            else:
                mono = c0
            assert abs(r["mean_abs_sample"] - np.abs(mono).mean()) < 1e-9


class TestTiff:
    def test_roundtrip_rgb_gray_and_strips(self):
        px = mm._image_pixels(4)
        for rps in (None, 3, 1):
            assert np.array_equal(
                mm.decode_tiff(mm.encode_tiff(px, rows_per_strip=rps)), px
            )
        g = px[:, :, 1]
        assert np.array_equal(mm.decode_tiff(mm.encode_tiff(g)), g)

    def test_big_endian_decode(self):
        """Hand-built MM (Motorola) grayscale TIFF: the decoder must
        honor the declared byte order, including SHORT values packed
        left-justified inside the 4-byte IFD value field."""
        import struct as st

        h, w = 3, 4
        raster = bytes(range(h * w))
        ifd_off = 8
        entries = [
            (256, 3, 1, w << 16),
            (257, 3, 1, h << 16),
            (258, 3, 1, 8 << 16),
            (259, 3, 1, 1 << 16),
            (262, 3, 1, 1 << 16),
            (273, 4, 1, 0),  # patched below
            (277, 3, 1, 1 << 16),
            (278, 3, 1, h << 16),
            (279, 4, 1, h * w),
        ]
        data_off = ifd_off + 2 + len(entries) * 12 + 4
        entries[5] = (273, 4, 1, data_off)
        buf = b"MM" + st.pack(">HI", 42, ifd_off) + st.pack(">H", len(entries))
        for tag, typ, cnt, val in entries:
            buf += st.pack(">HHII", tag, typ, cnt, val)
        buf += st.pack(">I", 0) + raster
        out = mm.decode_tiff(buf)
        assert out.shape == (h, w)
        assert np.array_equal(out, np.arange(h * w, dtype=np.uint8).reshape(h, w))

    def test_unsupported_variants_raise(self):
        px = mm._image_pixels(0)
        payload = bytearray(mm.encode_tiff(px))
        # compression tag (259) value lives in the sorted IFD; patch it
        # to CCITT Group 3 fax (3 — genuinely unsupported; PackBits/LZW
        # are real since r9, new-style JPEG + Deflate since r10) and
        # expect the honest guard
        import struct as st

        n = st.unpack_from("<H", payload, 8)[0]
        for i in range(n):
            off = 10 + i * 12
            if st.unpack_from("<H", payload, off)[0] == 259:
                st.pack_into("<I", payload, off + 8, 3)
        with pytest.raises(NotImplementedError):
            mm.decode_tiff(bytes(payload))
        with pytest.raises(ValueError):
            mm.decode_tiff(b"XX" + bytes(payload[2:]))

    def test_decode_stats_tiff_closed_form(self, spark):
        stats = {
            r["media_id"]: r
            for r in mm.decode_stats(mm.make_tiff_media(spark, n=4)).collect()
        }
        for i in range(4):
            r = stats[3000 + i]
            px = mm._image_pixels(i)
            assert (r["width"], r["height"]) == (px.shape[1], px.shape[0])
            if i % 2 == 1:  # grayscale lane: channel-0 rule on all lanes
                want = px[:, :, 0].mean()
                assert abs(r["mean_r"] - want) < 1e-9
                assert abs(r["mean_b"] - want) < 1e-9
            else:
                assert abs(r["mean_r"] - px[:, :, 0].mean()) < 1e-9
                assert abs(r["mean_g"] - px[:, :, 1].mean()) < 1e-9


class TestTiffCompression:
    def test_all_compressions_roundtrip(self):
        px = mm._image_pixels(7)
        g = px[:, :, 2]
        for comp in ("none", "packbits", "lzw", "deflate"):
            for rps in (None, 4):
                for im in (px, g):
                    got = mm.decode_tiff(
                        mm.encode_tiff(im, rows_per_strip=rps, compression=comp)
                    )
                    assert np.array_equal(got, im), (comp, rps, im.shape)

    def test_tiled_roundtrip_all_codecs(self):
        """r10: tiled rasters (tags 322-325) — edge tiles zero-padded
        on encode, cropped on decode; predictor resets at tile edges."""
        rng = np.random.default_rng(5)
        for shape in [(40, 55, 3), (40, 55), (16, 16, 3), (70, 33)]:
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            for comp in ("none", "packbits", "lzw", "deflate"):
                t = mm.encode_tiff(px, compression=comp, tile=(16, 16))
                assert np.array_equal(mm.decode_tiff(t), px), (shape, comp)
            t = mm.encode_tiff(
                px, compression="lzw", tile=(16, 32), predictor=True
            )
            assert np.array_equal(mm.decode_tiff(t), px), shape

    def test_planar_roundtrip_all_codecs(self):
        """r10: PlanarConfiguration 2 — plane-major strips
        (RRR…GGG…BBB), with and without multi-strip and predictor."""
        px = mm._image_pixels(3)
        for comp in ("none", "packbits", "lzw", "deflate"):
            for rps in (None, 7):
                t = mm.encode_tiff(
                    px, rows_per_strip=rps, compression=comp, planar=True
                )
                assert np.array_equal(mm.decode_tiff(t), px), (comp, rps)
        t = mm.encode_tiff(
            px, rows_per_strip=13, compression="deflate",
            planar=True, predictor=True,
        )
        assert np.array_equal(mm.decode_tiff(t), px)

    def test_tile_and_planar_guards(self):
        px = mm._image_pixels(1)
        with pytest.raises(ValueError, match="multiples of 16"):
            mm.encode_tiff(px, tile=(10, 16))
        with pytest.raises(ValueError, match="chunky strips"):
            mm.encode_tiff(px, compression="jpeg", tile=(16, 16))
        with pytest.raises(ValueError, match="tiled planar"):
            mm.encode_tiff(px, tile=(16, 16), planar=True)

    def test_deflate_predictor_roundtrip(self):
        smooth = np.tile(np.arange(256, dtype=np.uint8), (64, 4))
        d = mm.encode_tiff(smooth, compression="deflate", predictor=True)
        assert np.array_equal(mm.decode_tiff(d), smooth)
        assert len(d) < len(mm.encode_tiff(smooth)) * 0.2

    def test_lzw_predictor_roundtrip_and_compression_bite(self):
        smooth = np.tile(np.arange(256, dtype=np.uint8), (64, 4))
        raw = mm.encode_tiff(smooth)
        lzwp = mm.encode_tiff(smooth, compression="lzw", predictor=True)
        assert np.array_equal(mm.decode_tiff(lzwp), smooth)
        # horizontal differencing turns the gradient into a constant
        # stream: LZW must collapse it by >5x (measured ~95x)
        assert len(lzwp) < len(raw) * 0.2

    def test_lzw_table_reset_on_large_noise(self):
        rng = np.random.default_rng(11)
        px = rng.integers(0, 256, size=(80, 90, 3), dtype=np.uint8)
        got = mm.decode_tiff(mm.encode_tiff(px, compression="lzw"))
        assert np.array_equal(got, px)  # >4094 codes -> table resets

    def test_packbits_known_packets(self):
        # literal + run mix with exact packet layout
        assert mm._packbits_encode(b"aaaa") == bytes([253]) + b"a"
        assert mm._packbits_encode(b"abc") == bytes([2]) + b"abc"
        assert mm._packbits_decode(bytes([128, 253]) + b"a", 4) == b"aaaa"


class TestExifOrientation:
    """EXIF orientation honored in JPEG decode — r12."""

    def test_all_eight_orientations_roundtrip_upright(self):
        w, h, px = mm._jpeg_block_values(3)
        for o in range(1, 9):
            jp = mm.set_exif_orientation(mm.encode_jpeg(px), o)
            got = mm.decode_jpeg(jp)
            want = mm.apply_exif_orientation(px, o)
            assert np.array_equal(got, want), o
            if o >= 5:
                assert got.shape == (w, h)  # dims swap

    def test_apply_matches_independent_formulations(self):
        a = np.arange(24).reshape(4, 6)
        want = {
            1: a, 2: np.fliplr(a), 3: np.flipud(np.fliplr(a)),
            4: np.flipud(a), 5: a.T, 6: np.flipud(a).T,
            7: np.flipud(np.fliplr(a)).T, 8: np.fliplr(a).T,
        }
        for o, exp in want.items():
            assert np.array_equal(mm.apply_exif_orientation(a, o), exp), o
        with pytest.raises(ValueError, match="orientation"):
            mm.apply_exif_orientation(a, 9)

    def test_set_is_idempotent_and_composes_with_encoders(self):
        w, h, px = mm._jpeg_block_values(5)
        jp = mm.set_exif_orientation(
            mm.set_exif_orientation(mm.encode_jpeg(px), 3), 6
        )
        # only ONE APP1 remains and the last orientation wins
        assert jp.count(b"Exif\x00\x00") == 1
        assert np.array_equal(
            mm.decode_jpeg(jp), mm.apply_exif_orientation(px, 6)
        )
        rgb = np.repeat(px[:, :, None], 3, axis=2)
        for enc in (
            mm.encode_jpeg_progressive(px),
            mm.encode_jpeg_420(rgb),
        ):
            jp = mm.set_exif_orientation(enc, 8)
            got = mm.decode_jpeg(jp)
            ref = mm.apply_exif_orientation(mm.decode_jpeg(enc), 8)
            assert np.array_equal(got, ref)

    def test_set_drops_stale_exif_after_app0(self):
        # ADVICE r12: real files carry APP0/JFIF first and EXIF second;
        # decode honors the LAST APP1 EXIF, so a stale tag deeper in
        # the header must be dropped by set_exif_orientation or the
        # re-tag is a silent no-op at decode time.
        w, h, px = mm._jpeg_block_values(4)
        base = mm.encode_jpeg(px)  # emits APP0 JFIF right after SOI
        (app0_len,) = __import__("struct").unpack_from(">H", base, 4)
        after_app0 = 2 + 2 + app0_len
        stale = base[:after_app0] + mm.exif_app1_segment(3) + base[
            after_app0:
        ]
        assert np.array_equal(
            mm.decode_jpeg(stale), mm.apply_exif_orientation(px, 3)
        )
        retagged = mm.set_exif_orientation(stale, 6)
        assert retagged.count(b"Exif\x00\x00") == 1
        assert np.array_equal(
            mm.decode_jpeg(retagged), mm.apply_exif_orientation(px, 6)
        )
        # idempotent from any starting layout
        again = mm.set_exif_orientation(retagged, 8)
        assert again.count(b"Exif\x00\x00") == 1
        assert np.array_equal(
            mm.decode_jpeg(again), mm.apply_exif_orientation(px, 8)
        )

    def test_malformed_exif_is_neutral_not_fatal(self):
        w, h, px = mm._jpeg_block_values(1)
        base = mm.encode_jpeg(px)
        # APP1 with Exif signature but garbage TIFF: decode upright-1
        body = b"Exif\x00\x00" + b"ZZ" + b"\x07" * 10
        seg = b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body
        jp = base[:2] + seg + base[2:]
        assert np.array_equal(mm.decode_jpeg(jp), px)
        # non-EXIF APP1 (XMP) is skipped entirely
        body2 = b"http://ns.adobe.com/xap/1.0/\x00<x/>"
        seg2 = b"\xff\xe1" + (len(body2) + 2).to_bytes(2, "big") + body2
        assert np.array_equal(mm.decode_jpeg(base[:2] + seg2 + base[2:]), px)
        # big-endian (MM) EXIF body parses too
        tiff = (
            b"MM" + (42).to_bytes(2, "big") + (8).to_bytes(4, "big")
            + (1).to_bytes(2, "big")
            + (274).to_bytes(2, "big") + (3).to_bytes(2, "big")
            + (1).to_bytes(4, "big") + (3).to_bytes(2, "big") + b"\x00\x00"
            + (0).to_bytes(4, "big")
        )
        body3 = b"Exif\x00\x00" + tiff
        seg3 = b"\xff\xe1" + (len(body3) + 2).to_bytes(2, "big") + body3
        got = mm.decode_jpeg(base[:2] + seg3 + base[2:])
        assert np.array_equal(got, mm.apply_exif_orientation(px, 3))

    def test_tiff_orientation_tag_honored(self):
        px = mm._image_pixels(4)
        bil = np.where(px[:, :, 0] < 128, 255, 0).astype(np.uint8)
        for o in range(1, 9):
            t = mm.encode_tiff(px, compression="deflate", orientation=o)
            assert np.array_equal(
                mm.decode_tiff(t), mm.apply_exif_orientation(px, o)
            ), o
        for o in (3, 6, 8):  # composes with the G4 bilevel lane too
            t = mm.encode_tiff(bil, compression="g4", orientation=o)
            assert np.array_equal(
                mm.decode_tiff(t), mm.apply_exif_orientation(bil, o)
            ), o

    def test_media_table_dims_reflect_orientation(self, spark):
        rows = {
            r["media_id"]: r
            for r in mm.make_exif_media(spark, n=16).collect()
        }
        for i in range(16):
            o = mm._EXIF_ORIENT_CYCLE[i % 8]
            w, h, _ = mm._jpeg_block_values(i)
            want = (h, w) if o >= 5 else (w, h)
            assert (rows[8100 + i]["width"], rows[8100 + i]["height"]) \
                == want, (i, o)


class TestCcittG4:
    """CCITT Group 4 (ITU-T T.6, TIFF compression 4) — r12."""

    def test_bitstream_roundtrip_structured_and_random(self):
        rng = np.random.default_rng(7)
        cases = [
            np.zeros((3, 17), dtype=bool),  # all white
            np.ones((3, 17), dtype=bool),  # all black
            np.eye(9, 23, dtype=bool),  # diagonals (vertical modes)
        ]
        stripes = np.zeros((6, 40), dtype=bool)
        stripes[:, ::4] = True  # V0 ladders
        cases.append(stripes)
        for _ in range(60):
            h = int(rng.integers(1, 14))
            w = int(rng.integers(1, 120))
            cases.append(rng.random((h, w)) < rng.random())
        for img in cases:
            enc = mm.encode_ccitt_g4(img)
            got = mm.decode_ccitt_g4(enc, img.shape[1], img.shape[0])
            assert np.array_equal(got, img), img.shape

    def test_makeup_code_boundaries(self):
        # run lengths across every T.4 makeup regime: terminating-only,
        # single makeup, 1664/1728 specials, extended makeup, and
        # multi-2560 repetition for runs past 2623
        for w in (63, 64, 65, 1663, 1664, 1728, 1729, 2560, 2623,
                  2624, 3000, 5210):
            img = np.zeros((3, w), dtype=bool)
            img[1, :] = True  # full-width black run
            img[2, : w // 2] = True  # half black, half white
            got = mm.decode_ccitt_g4(mm.encode_ccitt_g4(img), w, 3)
            assert np.array_equal(got, img), w

    def test_fax_page_compresses_hard(self):
        # the reason the tier exists: a sparse scanned page must
        # collapse by orders of magnitude vs the raw bitmap
        page = np.zeros((200, 1728), dtype=bool)
        page[50:60, 100:900] = True
        page[120, :] = True
        enc = mm.encode_ccitt_g4(page)
        assert len(enc) < (200 * 1728 // 8) * 0.01

    def test_tiff_g4_roundtrip_single_and_multi_strip(self):
        rng = np.random.default_rng(3)
        for _ in range(8):
            h = int(rng.integers(2, 28))
            w = int(rng.integers(2, 90))
            px = np.where(rng.random((h, w)) < 0.4, 0, 255).astype(
                np.uint8
            )
            for rps in (None, 5):
                t = mm.encode_tiff(px, rows_per_strip=rps,
                                   compression="g4")
                assert np.array_equal(mm.decode_tiff(t), px), (h, w, rps)

    def test_tiff_g4_photometric_one_inverts(self):
        # photometric 1 (BlackIsZero): G4 white runs are sample 0 =
        # BLACK display — patch the tag and expect the inverted raster
        import struct as st

        px = np.where(mm._image_pixels(2)[:, :, 0] < 128, 255, 0).astype(
            np.uint8
        )
        payload = bytearray(mm.encode_tiff(px, compression="g4"))
        n = st.unpack_from("<H", payload, 8)[0]
        for i in range(n):
            off = 10 + i * 12
            if st.unpack_from("<H", payload, off)[0] == 262:
                st.pack_into("<I", payload, off + 8, 1)
        got = mm.decode_tiff(bytes(payload))
        assert np.array_equal(got, 255 - px)

    def test_g4_guards(self):
        px = mm._image_pixels(1)
        bil = np.where(px[:, :, 0] < 128, 255, 0).astype(np.uint8)
        with pytest.raises(ValueError, match="bilevel"):
            mm.encode_tiff(px, compression="g4")  # RGB in
        with pytest.raises(ValueError, match="bilevel"):
            mm.encode_tiff(px[:, :, 0], compression="g4")  # gray levels
        with pytest.raises(ValueError, match="strip layouts"):
            mm.encode_tiff(bil, compression="g4", tile=(16, 16))
        # corrupt stream: flipping bits must raise or mis-walk loudly,
        # never hang — truncation raises
        enc = mm.encode_ccitt_g4(bil == 0)
        with pytest.raises(ValueError):
            mm.decode_ccitt_g4(enc[: max(1, len(enc) // 4)],
                               bil.shape[1], bil.shape[0] * 2)

    def test_media_table_g4_lane_closed_form(self, spark):
        stats = {
            r["media_id"]: r
            for r in mm.decode_stats(
                mm.make_tiff_media(spark, n=2, g4=3, g3=0)
            ).collect()
        }
        assert len(stats) == 5
        for i in range(2, 5):
            r = stats[3000 + i]
            px0 = mm._image_pixels(i)[:, :, 0]
            want = np.where(px0 < 128, 255, 0).astype(np.uint8)
            assert (r["width"], r["height"]) == (
                want.shape[1], want.shape[0]
            )
            assert abs(r["mean_r"] - want.mean()) < 1e-9
            assert abs(r["mean_g"] - want.mean()) < 1e-9

    def test_jpeg_in_tiff_roundtrip_flat_blocks(self):
        """r10: new-style JPEG-in-TIFF (compression 7) — flat 8x8
        blocks round-trip exactly, gray and neutral-gray RGB, single
        and multi-strip with shared JPEGTables."""
        for i in (0, 5, 11):
            w, h, px = mm._jpeg_block_values(i)
            for data in (px, np.repeat(px[:, :, None], 3, axis=2)):
                for rps in (None, 8):
                    if rps and h <= 8:
                        continue
                    t = mm.encode_tiff(
                        data, rows_per_strip=rps, compression="jpeg"
                    )
                    assert np.array_equal(mm.decode_tiff(t), data), (
                        i, data.shape, rps,
                    )

    def test_jpeg_in_tiff_tables_are_shared_and_rejoined(self):
        w, h, px = mm._jpeg_block_values(3)
        t = mm.encode_tiff(px, rows_per_strip=8, compression="jpeg")
        # JPEGTables tag present exactly once, strips are abbreviated
        # (no DQT/DHT markers inside any strip)
        assert t.count(b"\xff\xdb") == 1  # one DQT, in the tables body
        assert mm.decode_tiff(t).shape == (h, w)

    def test_old_style_jpeg_in_tiff_roundtrip(self):
        """r11: compression 6 with one JPEGInterchangeFormat stream —
        the pre-TechNote-2 embedding. Block-exact content round-trips
        bit-for-bit, gray and RGB."""
        for i in range(4):
            w, h, px = mm._jpeg_block_values(i)
            t = mm.encode_tiff(px, compression="jpeg_old")
            assert np.array_equal(mm.decode_tiff(t), px), i
            g = px[:, :, 0] if px.ndim == 3 else px
            t = mm.encode_tiff(g, compression="jpeg_old")
            assert np.array_equal(mm.decode_tiff(t), g), i

    def test_old_style_jpeg_tables_variant_guard(self):
        # rewriting tag 513 -> 519 (JPEGQTables) models the per-strip
        # tables variant: no interchange stream, must fail loud
        _, _, px = mm._jpeg_block_values(1)
        t = bytearray(mm.encode_tiff(px, compression="jpeg_old"))
        i = t.find((513).to_bytes(2, "little"))
        t[i : i + 2] = (519).to_bytes(2, "little")
        with pytest.raises(NotImplementedError, match="JPEGInterchange"):
            mm.decode_tiff(bytes(t))
        with pytest.raises(ValueError, match="strips"):
            mm.encode_tiff(px, compression="jpeg_old", rows_per_strip=8)

    def test_jpeg_in_tiff_guards(self):
        w, h, px = mm._jpeg_block_values(0)
        with pytest.raises(ValueError, match="multiple of 8"):
            mm.encode_tiff(px, rows_per_strip=5, compression="jpeg")
        # old-style JPEG (6) must fail loud, not mis-decode
        t = bytearray(mm.encode_tiff(px, compression="jpeg"))
        i = t.find((259).to_bytes(2, "little"))
        t[i + 8] = 6  # rewrite COMPRESSION value 7 -> 6
        with pytest.raises(NotImplementedError, match="old-style"):
            mm.decode_tiff(bytes(t))


class TestQuarantine:
    def test_quarantine_isolates_bad_rows_same_pass(self, spark):
        from pyspark.sql import functions as F

        # n=12 plus the r12 CCITT bilevel tails (8 G4 then 8 G3,
        # ids 3012-3027): truncated G4/G3 payloads must quarantine
        # like every other codec's
        media = mm.make_tiff_media(spark, n=12)
        corrupted = media.withColumn(
            "payload",
            F.when(
                F.col("media_id") % 5 == 3,
                F.expr("substring(payload, 1, 32)"),
            ).otherwise(F.col("payload")),
        )
        rows = {
            r["media_id"]: r
            for r in mm.decode_stats(
                corrupted, on_error="quarantine"
            ).collect()
        }
        assert len(rows) == 28  # every row survives, none dropped
        for mid, r in rows.items():
            if mid % 5 == 3:
                assert r["decode_error"] and r["width"] is None
            else:
                assert r["decode_error"] is None and r["width"] is not None

    def test_raise_mode_still_raises(self, spark):
        from pyspark.sql import functions as F

        media = mm.make_tiff_media(spark, n=5).withColumn(
            "payload", F.expr("substring(payload, 1, 16)")
        )
        with pytest.raises(Exception):
            mm.decode_stats(media).collect()
        with pytest.raises(ValueError, match="on_error"):
            mm.decode_stats(media, on_error="skip")


class TestLegacyFormats:
    def test_pnm_roundtrip_and_ascii_variants(self):
        px = mm._image_pixels(5)
        assert np.array_equal(mm.decode_pnm(mm.encode_pnm(px)), px)
        g = px[:, :, 0]
        assert np.array_equal(mm.decode_pnm(mm.encode_pnm(g)), g)
        # ASCII P2 with a comment line in the header
        p2 = b"P2\n# a comment\n3 2\n255\n0 10 20\n30 40 50\n"
        assert np.array_equal(
            mm.decode_pnm(p2),
            np.array([[0, 10, 20], [30, 40, 50]], dtype=np.uint8),
        )
        p3 = b"P3\n1 1\n255\n7 8 9\n"
        assert np.array_equal(
            mm.decode_pnm(p3), np.array([[[7, 8, 9]]], dtype=np.uint8)
        )
        with pytest.raises(NotImplementedError):
            mm.decode_pnm(b"P5\n1 1\n65535\n\x00\x00")
        with pytest.raises(ValueError):
            mm.decode_pnm(b"P7\nwhatever")

    def test_tga_roundtrip_rle_and_topdown(self):
        px = mm._image_pixels(9)
        for rle in (False, True):
            assert np.array_equal(mm.decode_tga(mm.encode_tga(px, rle=rle)), px)
        # hand-built top-down (descriptor bit 5): rows must NOT flip
        import struct as st

        h, w = 2, 2
        hdr = st.pack("<BBBHHBHHHHBB", 0, 0, 2, 0, 0, 0, 0, 0, w, h, 24, 0x20)
        bgr = bytes([3, 2, 1, 6, 5, 4, 9, 8, 7, 12, 11, 10])
        out = mm.decode_tga(hdr + bgr)
        assert out[0, 0].tolist() == [1, 2, 3]  # first byte row = top row
        assert out[1, 1].tolist() == [10, 11, 12]
        with pytest.raises(NotImplementedError):
            mm.decode_tga(st.pack("<BBBHHBHHHHBB", 0, 0, 2, 0, 0, 0, 0, 0, 1, 1, 32, 0) + b"\0" * 4)

    def test_tga_rle_run_vs_literal_packets(self):
        # a row that is one long run plus distinct tail: runs compress
        flat = np.zeros((1, 200, 3), np.uint8)
        flat[0, 199] = [9, 9, 9]
        payload = mm.encode_tga(flat, rle=True)
        assert len(payload) < 18 + 200 * 3 // 4
        assert np.array_equal(mm.decode_tga(payload), flat)

    def test_aiff_roundtrip_f80_rates_and_guards(self):
        s = ((np.arange(500) * 13) % 4096 - 2048).astype(np.int16)
        for sr in (8000, 44100, 48000, 96000):
            got_sr, out = mm.decode_aiff(mm.encode_aiff(s, sr))
            assert got_sr == sr and np.array_equal(out, s)
        st2 = np.stack([s, -s], axis=1)
        _, out = mm.decode_aiff(mm.encode_aiff(st2))
        assert np.array_equal(out, st2)
        # r10: an AIFC form with a classic COMM decodes as NONE
        payload = bytearray(mm.encode_aiff(s))
        payload[8:12] = b"AIFC"
        _, out = mm.decode_aiff(bytes(payload))
        assert np.array_equal(out, s)
        with pytest.raises(ValueError):
            mm.decode_aiff(b"RIFF....WAVE")

    def test_aifc_none_and_sowt_roundtrip(self):
        """r10: AIFF-C with NONE (big-endian) and sowt (little-endian,
        the macOS default) PCM — FVER + extended COMM + both byte
        orders; genuinely compressed types still fail loud."""
        s = ((np.arange(700) * 17) % 4096 - 2048).astype(np.int16)
        st2 = np.stack([s, -1 - s], axis=1)
        for aifc in ("NONE", "sowt"):
            for sig in (s, st2):
                p = mm.encode_aiff(sig, 44100, aifc=aifc)
                assert p[8:12] == b"AIFC" and b"FVER" in p[:24]
                sr, out = mm.decode_aiff(p)
                assert sr == 44100 and np.array_equal(out, sig), aifc
        # sowt and NONE must differ on the wire but not after decode
        a = mm.encode_aiff(s, aifc="NONE")
        b = mm.encode_aiff(s, aifc="sowt")
        assert a != b
        p = bytearray(mm.encode_aiff(s, aifc="NONE"))
        i = p.find(b"NONE")
        p[i : i + 4] = b"ima4"
        with pytest.raises(NotImplementedError, match="ima4"):
            mm.decode_aiff(bytes(p))
        with pytest.raises(ValueError):
            mm.encode_aiff(s, aifc="ulaw")

    def test_legacy_media_decode_stats_closed_form(self, spark):
        stats = {
            r["media_id"]: r
            for r in mm.decode_stats(mm.make_legacy_media(spark, n=12)).collect()
        }
        px = mm._image_pixels(0)  # v=0: PPM RGB
        assert abs(stats[4000]["mean_g"] - px[:, :, 1].mean()) < 1e-9
        g = mm._image_pixels(1)[:, :, 0]  # v=1: PGM
        assert abs(stats[4001]["mean_r"] - g.mean()) < 1e-9
        t3 = mm._image_pixels(3)  # v=3: TGA-RLE
        assert abs(stats[4003]["mean_b"] - t3[:, :, 2].mean()) < 1e-9
        m = mm._wav_variant_frames(4)  # v=4: AIFF mono
        c0 = mm._wav_channel(4, 0, m, 16).astype(np.int64)
        assert stats[4004]["n_samples"] == m
        assert abs(stats[4004]["mean_ch0"] - c0.mean()) < 1e-9
        assert stats[4005]["n_channels"] == 2  # v=5: AIFF stereo


class TestTranscode:
    def test_transcode_lossless_across_all_targets(self, spark):
        """wav-zoo → {flac, wav, aiff}: every target decodes to the
        identical int16 signal (integer PCM end-to-end)."""
        media = mm.make_wav_variant_media(spark, n=6)
        orig = {
            r["media_id"]: mm.decode_wav(bytes(r["payload"]))
            for r in media.collect()
        }
        for to, dec in (
            ("audio/flac", mm.decode_flac),
            ("audio/wav", mm.decode_wav),
            ("audio/aiff", mm.decode_aiff),
        ):
            out = {
                r["media_id"]: r
                for r in mm.transcode_audio(media, to=to).collect()
            }
            assert len(out) == 6
            for mid, (sr0, s0) in orig.items():
                sr1, s1 = dec(bytes(out[mid]["payload"]))
                assert sr1 == sr0 and np.array_equal(s1, s0), (to, mid)

    def test_flac_transcode_compresses_lattice_signals(self, spark):
        """The closed-form ramps have near-constant differences —
        FLAC's order-1/2 predictors must beat the PCM container."""
        media = mm.make_wav_variant_media(spark, n=3)  # 16-bit stereo id 1000
        [r] = (
            mm.transcode_audio(media, to="audio/flac")
            .filter(F.col("media_id") == 1000)
            .collect()
        )
        assert r["n_bytes_out"] < r["n_bytes_in"] * 0.6

    def test_non_audio_rows_are_ignored(self, spark):
        media = mm.make_real_media(spark, n=9)  # images+audio+video
        out = mm.transcode_audio(media, to="audio/flac")
        assert out.count() == 3  # only the audio third


class TestWebPLossless:
    """VP8L codec (r11): every decode path against the encoder twin,
    plus container guards. Lossy VP8/animation are honest guards."""

    def test_plain_and_cache_and_lz77_roundtrip(self):
        for i in range(4):
            px = mm._image_pixels(i)
            for kw in (
                {}, {"cache_bits": 1}, {"cache_bits": 4},
                {"cache_bits": 8}, {"lz77": False},
            ):
                p = mm.encode_webp_lossless(px, **kw)
                assert p[:4] == b"RIFF" and p[8:12] == b"WEBP"
                assert np.array_equal(mm.decode_webp_lossless(p), px), kw

    def test_all_predictor_modes_roundtrip(self):
        for mode in range(14):
            px = mm._image_pixels(mode)
            p = mm.encode_webp_lossless(
                px, predictor_mode=mode, transform_bits=2
            )
            assert np.array_equal(mm.decode_webp_lossless(p), px), mode

    def test_color_transform_signed_coefficients(self):
        px = mm._image_pixels(5)
        for cte in ((1, 2, 3), (-5, 17, -128), (127, -1, 64)):
            p = mm.encode_webp_lossless(
                px, color_transform=cte, transform_bits=3
            )
            assert np.array_equal(mm.decode_webp_lossless(p), px), cte

    def test_subtract_green_and_stacked_transforms(self):
        px = mm._image_pixels(7)
        p = mm.encode_webp_lossless(px, subtract_green=True)
        assert np.array_equal(mm.decode_webp_lossless(p), px)
        p = mm.encode_webp_lossless(
            px, subtract_green=True, predictor_mode=11,
            color_transform=(7, -3, 11), cache_bits=5, meta_bits=2,
        )
        assert np.array_equal(mm.decode_webp_lossless(p), px)

    def test_palette_every_bundling_width(self):
        # k <= 2 packs 8 px/byte, <= 4 packs 4, <= 16 packs 2; k > 16
        # is unbundled — all four layouts must round-trip, including
        # widths that don't divide the packing factor (edge trim)
        for k in (2, 3, 4, 9, 16, 17, 200):
            h, w = 13, 19
            idx = (np.add.outer(np.arange(h) * 5, np.arange(w) * 3) + 1) % k
            colors = np.stack(
                [(np.arange(k) * 53) % 256, (np.arange(k) * 29 + 7) % 256,
                 (np.arange(k) * 11 + 3) % 256],
                axis=1,
            ).astype(np.uint8)
            px = colors[idx]
            p = mm.encode_webp_lossless(px, palette=True)
            assert np.array_equal(mm.decode_webp_lossless(p), px), k

    def test_meta_prefix_groups_roundtrip(self):
        px = mm._image_pixels(9)
        for mb in (2, 3, 5):
            p = mm.encode_webp_lossless(px, meta_bits=mb, cache_bits=3)
            assert np.array_equal(mm.decode_webp_lossless(p), px), mb

    def test_constant_image_is_one_long_backref(self):
        px = np.full((40, 50, 3), 129, dtype=np.uint8)
        p = mm.encode_webp_lossless(px)
        # 2000 pixels as literal+runs: the whole stream fits in a
        # few dozen bytes if LZ77 actually engages
        assert len(p) < 120
        assert np.array_equal(mm.decode_webp_lossless(p), px)

    def test_gray_and_tiny_inputs(self):
        g = mm._image_pixels(4)[:, :, 0]
        out = mm.decode_webp_lossless(mm.encode_webp_lossless(g))
        assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
        one = mm._image_pixels(3)[:1, :1]
        assert np.array_equal(
            mm.decode_webp_lossless(mm.encode_webp_lossless(one)), one
        )

    def test_container_guards(self):
        px = mm._image_pixels(0)
        p = bytearray(mm.encode_webp_lossless(px))
        with pytest.raises(ValueError, match="RIFF"):
            mm.decode_webp_lossless(b"JUNK" + bytes(p[4:]))
        # a VP8 chunk tag over a non-VP8 body fails loud (r14: lossy
        # keyframes now decode; garbage must still never mis-decode —
        # here the VP8L signature byte's low bit reads as the
        # inter-frame flag, the named keyframe-only guard)
        lossy = bytes(p).replace(b"VP8L", b"VP8 ")
        with pytest.raises((ValueError, NotImplementedError)):
            mm.decode_webp_lossless(lossy)
        # a container with an ANIM chunk but no frames fails loud
        anim = bytes(p).replace(b"VP8L", b"ANIM")
        with pytest.raises(ValueError, match="no ANMF or VP8L|no VP8L"):
            mm.decode_webp_lossless(anim)
        with pytest.raises(ValueError):
            mm.decode_webp_lossless(bytes(p[:24]))  # truncated stream
        bad = bytearray(p)
        bad[20] ^= 0xFF  # clobber the VP8L signature byte
        with pytest.raises(ValueError, match="signature"):
            mm.decode_webp_lossless(bytes(bad))

    def test_vp8x_extended_container_walks_to_vp8l(self):
        px = mm._image_pixels(2)
        p = mm.encode_webp_lossless(px)
        body = p[12:]  # the VP8L chunk
        vp8x = b"VP8X" + (10).to_bytes(4, "little") + bytes(10)
        riff = b"WEBP" + vp8x + body
        wrapped = b"RIFF" + len(riff).to_bytes(4, "little") + riff
        assert np.array_equal(mm.decode_webp_lossless(wrapped), px)

    def test_palette_transform_combo_guard(self):
        px = mm._image_pixels(0)
        with pytest.raises(NotImplementedError, match="palette"):
            mm.encode_webp_lossless(px, palette=True, subtract_green=True)

    def test_decode_stats_matches_closed_form(self, spark):
        stats = {
            r["media_id"]: r
            for r in mm.webp_decode_stats(
                mm.make_webp_media(spark, n=6, anim=0)
            ).collect()
        }
        assert len(stats) == 6
        for i in (0, 1, 2, 3, 5):
            px = mm._image_pixels(i).astype(np.int64)
            assert stats[5000 + i]["pixel_sum"] == int(px.sum()), i
            wy = np.arange(px.shape[0]) + 1
            rw = (px.reshape(px.shape[0], -1).sum(axis=1) * wy).sum()
            assert stats[5000 + i]["row_weighted_sum"] == int(rw), i


class TestResample:
    """Integer-exact linear-interpolation resampling (r11)."""

    def test_identity_and_integer_ratios(self):
        s = ((np.arange(100) * 37) % 4001 - 2000).astype(np.int16)
        assert np.array_equal(mm.resample_linear_fixed(s, 8000, 8000), s)
        u = mm.resample_linear_fixed(s, 8000, 16000)
        assert len(u) == 200 and np.array_equal(u[0::2], s)
        mid = s[:-1].astype(np.int64) + (
            s[1:].astype(np.int64) - s[:-1]
        ) // 2  # floor midpoints, incl. negative deltas
        assert np.array_equal(u[1:-1:2], mid.astype(np.int16))
        d = mm.resample_linear_fixed(s, 16000, 8000)
        assert np.array_equal(d, s[0::2])

    def test_rational_ratio_and_stereo(self):
        s = ((np.arange(101) * 13) % 2048 - 1024).astype(np.int16)
        r = mm.resample_linear_fixed(s, 44100, 16000)
        assert len(r) == -(-101 * 16000 // 44100)
        st = np.stack([s, (-1 - s.astype(np.int64)).astype(np.int16)], axis=1)
        us = mm.resample_linear_fixed(st, 8000, 12000)
        assert us.shape == (-(-101 * 3 // 2), 2)
        assert np.array_equal(
            us[:, 0], mm.resample_linear_fixed(s, 8000, 12000)
        )

    def test_edge_clamp_and_guards(self):
        one = np.array([5], dtype=np.int16)
        up = mm.resample_linear_fixed(one, 8000, 24000)
        assert np.array_equal(up, np.array([5, 5, 5], dtype=np.int16))
        with pytest.raises(ValueError, match="positive"):
            mm.resample_linear_fixed(one, 0, 8000)

    def test_resample_audio_chain_through_spark(self, spark):
        out = {
            r["media_id"]: r
            for r in mm.resample_audio(
                mm.make_flac_media(spark, n=4), target_rate=16000
            ).collect()
        }
        assert len(out) == 4
        for i in range(4):
            m = mm._wav_variant_frames(i)
            sr, s = mm.decode_wav(out[2000 + i]["payload"])
            assert sr == 16000
            want = mm.resample_linear_fixed(
                np.stack(
                    [mm._wav_channel(i, 0, m, 16),
                     mm._wav_channel(i, 1, m, 16)], axis=1
                ) if i % 2 == 0 else mm._wav_channel(i, 0, m, 16),
                8000, 16000,
            )
            assert np.array_equal(s, want), i


def test_vertical_backrefs_exercise_the_distance_map():
    """r11: rows that repeat the previous row emit distance = xsize
    references (plane code 1 — the 2-D neighborhood path of the
    120-entry distance map), not just the linear dist-1 code."""
    px = np.tile(mm._image_pixels(6)[:1], (12, 1, 1))  # 12 equal rows
    w = px.shape[1]
    pix = [
        mm._argb_pack(255, int(r), int(g), int(b))
        for r, g, b in px.reshape(-1, 3)
    ]
    toks = mm._vp8l_tokenize(pix, w, 0, True)
    dists = {t[3] for t in toks if t[0] == "copy"}
    assert w in dists, dists
    p = mm.encode_webp_lossless(px)
    assert np.array_equal(mm.decode_webp_lossless(p), px)
    # overlap case: dist < length (one row copied 11x in one token)
    assert any(
        t[3] == w and t[2] > w for t in toks if t[0] == "copy"
    )


class TestAugment:
    """Integer-exact image augmentation (r11)."""

    def test_ops_match_numpy_and_invert(self):
        px = mm._image_pixels(5)
        assert np.array_equal(
            mm.augment_image(px, "hflip"), px[:, ::-1]
        )
        assert np.array_equal(
            mm.augment_image(px, "vflip"), px[::-1]
        )
        for k, op in ((1, "rot90"), (2, "rot180"), (3, "rot270")):
            assert np.array_equal(mm.augment_image(px, op), np.rot90(px, k))
        # involutions / inverses
        for op in ("hflip", "vflip", "rot180"):
            assert np.array_equal(
                mm.augment_image(mm.augment_image(px, op), op), px
            )
        assert np.array_equal(
            mm.augment_image(mm.augment_image(px, "rot90"), "rot270"), px
        )
        c = mm.augment_image(px, "crop")
        assert c.shape == (px.shape[0] - 4, px.shape[1] - 6, 3)
        assert np.array_equal(c, px[2:-2, 3:-3])

    def test_guards(self):
        px = mm._image_pixels(0)
        with pytest.raises(ValueError, match="unknown"):
            mm.augment_image(px, "zoom")
        with pytest.raises(ValueError, match="small"):
            mm.augment_image(px[:4, :6], "crop")

    def test_stats_lane_weighted_sums(self, spark):
        rows = {
            (r["media_id"]): r
            for r in mm.augment_decode_stats(
                mm.make_webp_media(spark, n=6, anim=0)
            ).collect()
        }
        assert len(rows) == 6
        for i in range(6):
            mid = 5000 + i
            op = mm.AUGMENT_OPS[mid % len(mm.AUGMENT_OPS)]
            if i % 6 == 4:
                continue  # palette rule row, pinned by the oracle
            out = mm.augment_image(
                mm._image_pixels(i), op
            ).astype(np.int64)
            hh, ww = out.shape[:2]
            assert rows[mid]["op"] == op
            assert (rows[mid]["width"], rows[mid]["height"]) == (ww, hh)
            wy = np.arange(hh) + 1
            rw = (out.reshape(hh, -1).sum(axis=1) * wy).sum()
            assert rows[mid]["row_weighted_sum"] == int(rw), (i, op)


class TestAviMjpeg:
    """AVI Motion-JPEG container (r11)."""

    def test_roundtrip_gray_and_rgb(self):
        g = [mm._jpeg_block_values(i)[2] for i in (3, 3, 3)]
        fr, fms = mm.decode_avi_mjpeg(mm.encode_avi_mjpeg(g, frame_ms=40))
        assert fms == 40 and fr.shape[0] == 3
        assert all(np.array_equal(fr[k], g[k]) for k in range(3))
        # neutral-gray RGB frames (zero chroma -> block-exact)
        rgb = [np.repeat(f[:, :, None], 3, axis=2) for f in g[:2]]
        fr, _ = mm.decode_avi_mjpeg(mm.encode_avi_mjpeg(rgb))
        assert fr.shape == (2,) + rgb[0].shape
        assert np.array_equal(fr[0], rgb[0])

    def test_frame_order_and_duration(self):
        frames = []
        for k in range(4):
            w, h, px = mm._jpeg_block_values(5)
            frames.append(((px.astype(np.int64) + 16 * k) % 256)
                          .astype(np.uint8))
        # 16k offsets keep blocks flat -> exact; order must survive
        fr, fms = mm.decode_avi_mjpeg(
            mm.encode_avi_mjpeg(frames, frame_ms=70)
        )
        assert fms == 70
        for k in range(4):
            assert np.array_equal(fr[k], frames[k]), k

    def test_guards(self):
        w, h, px = mm._jpeg_block_values(1)
        p = bytearray(mm.encode_avi_mjpeg([px]))
        i = p.find(b"vidsMJPG")
        p[i + 4 : i + 8] = b"H264"
        with pytest.raises(NotImplementedError, match="MJPG"):
            mm.decode_avi_mjpeg(bytes(p))
        with pytest.raises(ValueError, match="RIFF/AVI"):
            mm.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
        with pytest.raises(ValueError, match="share one size"):
            mm.encode_avi_mjpeg([px, px[:8, :8]])
        with pytest.raises(ValueError, match="at least one"):
            mm.encode_avi_mjpeg([])
        # planted audio chunk fails loud
        q = bytearray(mm.encode_avi_mjpeg([px]))
        j = q.find(b"00dc")
        q[j : j + 4] = b"01wb"
        with pytest.raises(NotImplementedError, match="audio"):
            mm.decode_avi_mjpeg(bytes(q))


class TestIco:
    """ICO favicon container (r11)."""

    def test_png_and_dib_roundtrip(self):
        px = mm._image_pixels(2)
        for png in (True, False):
            assert np.array_equal(
                mm.decode_ico(mm.encode_ico(px, png=png)), px
            ), png

    def test_largest_entry_selection_and_256(self):
        px = mm._image_pixels(4)
        p = mm.encode_ico([px[:8, :8], px], png=True)
        assert mm.decode_ico(p).shape == px.shape
        big = np.tile(px, (20, 16, 1))[:256, :256]  # w8/h8 wrap to 0
        assert np.array_equal(
            mm.decode_ico(mm.encode_ico(big, png=False)), big
        )

    def test_alpha_and_and_mask(self):
        px = mm._image_pixels(1)
        rgba = np.concatenate(
            [px, np.full(px.shape[:2] + (1,), 128, np.uint8)], axis=2
        )
        out = mm.decode_ico(mm.encode_ico(rgba, png=False))
        assert out.shape[2] == 4 and np.all(out[:, :, 3] == 128)
        # planted AND-mask bit punches a transparent pixel
        p = bytearray(mm.encode_ico(px, png=False))
        h, w = px.shape[:2]
        row_bytes = ((w + 31) // 32) * 4
        p[-row_bytes * h] = 0x80  # top-left bit of the bottom mask row
        out = mm.decode_ico(bytes(p))
        assert out.shape[2] == 4 and out[h - 1, 0, 3] == 0

    def test_guards(self):
        px = mm._image_pixels(0)
        with pytest.raises(ValueError, match="ICO"):
            mm.decode_ico(b"\x01\x00\x01\x00\x01\x00")
        with pytest.raises(ValueError, match="256"):
            mm.encode_ico(np.zeros((300, 10, 3), np.uint8))
        p = bytearray(mm.encode_ico(px, png=False))
        i = p.find((32).to_bytes(2, "little"), 6 + 16)  # DIB bit depth
        p[i : i + 2] = (8).to_bytes(2, "little")
        with pytest.raises(NotImplementedError, match="8-bit"):
            mm.decode_ico(bytes(p))


# ---------------------------------------------------------------------------
# Sun AU + ZSoft PCX
# ---------------------------------------------------------------------------


class TestAuPcx:
    def test_au_roundtrip_pcm16_mono_stereo_with_annotation(self):
        import numpy as np

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        s = mm._wav_channel(5, 0, 400, 16)
        sr, out = mm.decode_au(mm.encode_au(s, annotation=b"label"))
        assert sr == mm.WAV_SAMPLE_RATE
        assert np.array_equal(out, s)
        st = np.stack([s, mm._wav_channel(5, 1, 400, 16)], axis=1)
        _, out2 = mm.decode_au(mm.encode_au(st))
        assert out2.shape == (400, 2) and np.array_equal(out2, st)

    def test_au_g711_lanes_match_itu_tables(self):
        import numpy as np

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        codes = mm._g711_codes(6)
        sr, mu = mm.decode_au(
            mm.encode_au(codes, sample_rate=8000, encoding=1)
        )
        assert sr == 8000 and np.array_equal(mu, mm.MULAW_TABLE[codes])
        _, al = mm.decode_au(
            mm.encode_au(codes, sample_rate=8000, encoding=27)
        )
        assert np.array_equal(al, mm.ALAW_TABLE[codes])

    def test_au_8bit_joins_int16_lattice(self):
        import numpy as np

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        s = mm._wav_channel(2, 0, 350, 16)
        lat = (s >> 8).astype(np.int16) << 8
        _, out = mm.decode_au(mm.encode_au(lat, encoding=2))
        assert np.array_equal(out, lat)

    def test_au_unknown_length_convention_and_guards(self):
        import struct

        import numpy as np
        import pytest as _pytest

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        s = mm._wav_channel(1, 0, 100, 16)
        payload = bytearray(mm.encode_au(s))
        struct.pack_into(">I", payload, 8, 0xFFFFFFFF)  # size unknown
        _, out = mm.decode_au(bytes(payload))
        assert np.array_equal(out, s)  # runs to EOF
        with _pytest.raises(ValueError, match="magic"):
            mm.decode_au(b"RIFFxxxx")
        bad = bytearray(mm.encode_au(s))
        struct.pack_into(">I", bad, 12, 6)  # encoding 6 = float32
        with _pytest.raises(NotImplementedError, match="6"):
            mm.decode_au(bytes(bad))
        short = mm.encode_au(s)[:-10]  # declared size > data
        with _pytest.raises(ValueError, match="shorter"):
            mm.decode_au(short)

    def test_pcx_roundtrip_rgb_gray_and_odd_width(self):
        import numpy as np

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        px = mm._image_pixels(3)
        assert np.array_equal(mm.decode_pcx(mm.encode_pcx(px)), px)
        g = px[:, :, 0]
        got = mm.decode_pcx(mm.encode_pcx(g))
        assert got.ndim == 2 and np.array_equal(got, g)
        odd = mm._image_pixels(4)[:, :15]  # odd width: pad column
        assert np.array_equal(mm.decode_pcx(mm.encode_pcx(odd)), odd)

    def test_pcx_rle_packets_and_guards(self):
        import pytest as _pytest

        from incremental_github_data_pipeline_spark.operators import multimodal as mm

        # values >= 0xC0 must round-trip even as singletons (run form)
        row = bytes([0xC5, 0xC5, 0x10, 0xFF, 0x00, 0x00, 0x00])
        enc = mm._pcx_rle_encode(row)
        dec, pos = mm._pcx_rle_decode(enc, 0, len(row))
        assert dec == row and pos == len(enc)
        with _pytest.raises(ValueError, match="manufacturer"):
            mm.decode_pcx(b"\x00" * 200)
        good = bytearray(mm.encode_pcx(mm._image_pixels(1)))
        good[65] = 4  # EGA 4-plane
        with _pytest.raises(NotImplementedError, match="plane"):
            mm.decode_pcx(bytes(good))
        with _pytest.raises(ValueError, match="missing value byte"):
            mm._pcx_rle_decode(b"\xc5", 0, 5)
        with _pytest.raises(ValueError, match="truncated"):
            mm._pcx_rle_decode(b"\x10", 0, 5)

    def test_au_pcx_media_decodes_through_shared_stats(self, spark):
        from incremental_github_data_pipeline_spark.operators.multimodal import (
            decode_stats,
            make_au_pcx_media,
        )

        got = decode_stats(make_au_pcx_media(spark, n=12)).collect()
        assert len(got) == 12
        kinds = {r["media_id"]: r["kind"] for r in got}
        assert kinds[8000] == "image" and kinds[8002] == "audio"
        by_id = {r["media_id"]: r for r in got}
        assert by_id[8003]["n_channels"] == 2  # stereo AU
        assert by_id[8004]["sample_rate"] == 8000  # mu-law AU


class TestCcittG3:
    """CCITT Group 3 1-D (TIFF compressions 2 and 3) — r12."""

    def test_bitstream_roundtrips_both_framings(self):
        rng = np.random.default_rng(11)
        cases = [
            np.zeros((3, 17), dtype=bool),
            np.ones((3, 17), dtype=bool),
        ]
        for _ in range(40):
            h = int(rng.integers(1, 12))
            w = int(rng.integers(1, 150))
            cases.append(rng.random((h, w)) < rng.random())
        for img in cases:
            for eol in (False, True):
                got = mm.decode_ccitt_g3(
                    mm.encode_ccitt_g3(img, eol=eol),
                    img.shape[1], img.shape[0], eol=eol,
                )
                assert np.array_equal(got, img), (img.shape, eol)

    def test_byte_alignment_and_eol_framing_differ(self):
        # compression-2 lines are byte-aligned; EOL framing is not —
        # the two encodings of the same raster differ, both decode
        img = np.zeros((4, 30), dtype=bool)
        img[1, 3:20] = True
        a = mm.encode_ccitt_g3(img, eol=False)
        b = mm.encode_ccitt_g3(img, eol=True)
        assert a != b
        # EOL stream starts with the 000000000001 marker
        bits = "".join(f"{x:08b}" for x in b)
        assert bits.startswith("000000000001")

    def test_tiff_g3_roundtrip_strips_all_framings(self):
        rng = np.random.default_rng(5)
        px = np.where(rng.random((21, 64)) < 0.4, 0, 255).astype(
            np.uint8
        )
        for comp in ("g3", "g3_eol", "g3_2d"):
            for rps in (None, 5):
                t = mm.encode_tiff(px, rows_per_strip=rps,
                                   compression=comp)
                assert np.array_equal(mm.decode_tiff(t), px), (comp, rps)

    def test_truncated_g3_raises_valueerror(self):
        img = np.ones((6, 40), dtype=bool)
        for eol in (False, True):
            enc = mm.encode_ccitt_g3(img, eol=eol)
            with pytest.raises(ValueError):
                mm.decode_ccitt_g3(enc[: len(enc) // 3], 40, 6, eol=eol)


class TestCcittG3MR:
    """CCITT Group 3 2-D / MR (T.4 §4.2.1, TIFF compression 3 with
    T4Options bit 0) — r13: the tier that was the last fax guard."""

    def test_g3_2d_roundtrip_any_bilevel_any_k(self):
        rng = np.random.default_rng(13)
        cases = [
            np.zeros((3, 17), dtype=bool),
            np.ones((3, 17), dtype=bool),
        ]
        for _ in range(40):
            h = int(rng.integers(1, 12))
            w = int(rng.integers(1, 150))
            cases.append(rng.random((h, w)) < rng.random())
        for img in cases:
            for k in (1, 2, 4, 1000):
                got = mm.decode_ccitt_g3_2d(
                    mm.encode_ccitt_g3_2d(img, k=k),
                    img.shape[1], img.shape[0],
                )
                assert np.array_equal(got, img), (img.shape, k)

    def test_tag_bits_mark_coding_choice(self):
        # K=2: line 0 is 1-D (tag 1 after the EOL), line 1 is 2-D
        # (tag 0) — the framing T.4 prescribes and decoders key on
        img = np.zeros((2, 16), dtype=bool)
        img[:, 4:9] = True
        bits = "".join(
            f"{b:08b}" for b in mm.encode_ccitt_g3_2d(img, k=2)
        )
        assert bits.startswith("000000000001" + "1")
        second = bits.index("000000000001", 13)
        assert bits[second + 12] == "0"
        # identical rows: the 2-D line is a single V0 code (1 bit)
        # plus the end handling — dramatically shorter than its 1-D
        # spelling, the whole point of MR coding
        one_d = mm.encode_ccitt_g3_2d(img, k=1)
        assert len(mm.encode_ccitt_g3_2d(img, k=2)) < len(one_d)

    def test_k_is_not_needed_to_decode(self):
        # streams with different K decode identically: the per-line
        # tag bit carries the choice
        rng = np.random.default_rng(3)
        img = rng.random((9, 33)) < 0.5
        outs = [
            mm.decode_ccitt_g3_2d(mm.encode_ccitt_g3_2d(img, k=k), 33, 9)
            for k in (1, 2, 3, 9)
        ]
        for o in outs:
            assert np.array_equal(o, img)

    def test_truncated_and_corrupt_mr_raise_valueerror(self):
        img = np.ones((6, 40), dtype=bool)
        enc = mm.encode_ccitt_g3_2d(img, k=2)
        with pytest.raises(ValueError):
            mm.decode_ccitt_g3_2d(enc[: len(enc) // 3], 40, 6)
        with pytest.raises(ValueError):
            mm.decode_ccitt_g3_2d(b"\xff" * 16, 40, 6)
        with pytest.raises(ValueError, match="K must be"):
            mm.encode_ccitt_g3_2d(img, k=0)

    def test_media_table_g3_lane_cycles_all_framings(self, spark):
        # ids 3032.. cycle g3 / g3_eol / g3_2d; every one decodes to
        # the thresholded closed form
        media = mm.make_tiff_media(spark, n=0, g4=0, g3=6)
        rows = {
            r["media_id"]: r
            for r in mm.decode_stats(media).collect()
        }
        assert len(rows) == 6
        for i in range(6):
            px = mm._image_pixels(i)[:, :, 0]
            want = np.where(px < 128, 255, 0)
            r = rows[3000 + i]
            got_sum = round(r["mean_r"] * r["width"] * r["height"])
            assert got_sum == int(want.sum()), i


class TestGifAnimation:
    """GIF89a animation surface (r13): multi-frame compositing, local
    palettes / no-GCT, transparency, interlace, disposal methods."""

    @staticmethod
    def _reference(frames, screen, gpal):
        w, h = screen
        canvas = np.zeros((h, w, 3), np.uint8)
        outs = []
        for f in frames:
            idx = f["indices"]
            pal = np.asarray(f.get("palette", gpal))
            ih, iw = idx.shape
            L, T = f.get("left", 0), f.get("top", 0)
            prev = canvas.copy()
            reg = canvas[T : T + ih, L : L + iw]
            t = f.get("transparent")
            if t is None:
                reg[:] = pal[idx]
            else:
                m = idx != t
                reg[m] = pal[idx[m]]
            outs.append(canvas.copy())
            d = f.get("disposal", 0)
            if d == 2:
                canvas[T : T + ih, L : L + iw] = 0
            elif d == 3:
                canvas = prev
        return outs

    def test_roundtrip_vs_reference_compositor(self):
        rng = np.random.RandomState(42)
        for trial in range(20):
            w, h = rng.randint(8, 40), rng.randint(8, 40)
            use_gct = trial % 2 == 0
            gpal = mm._gif_palette(8) if use_gct else None
            frames = []
            for fi in range(rng.randint(1, 5)):
                iw, ih = rng.randint(1, w + 1), rng.randint(1, h + 1)
                L = rng.randint(0, w - iw + 1)
                T = rng.randint(0, h - ih + 1)
                k = int(rng.choice([4, 8, 16]))
                pal = ((np.arange(k * 3).reshape(k, 3) * 17 + fi * 5)
                       % 256).astype(np.uint8)
                local = (not use_gct) or rng.rand() < 0.5
                idx = rng.randint(
                    0, k if local else 8, (ih, iw)
                ).astype(np.uint8)
                f = dict(
                    indices=idx, left=L, top=T, delay_cs=fi * 10,
                    disposal=int(rng.choice([0, 1, 2, 3])),
                    transparent=(
                        int(rng.randint(0, k if local else 8))
                        if rng.rand() < 0.5 else None
                    ),
                    interlace=bool(rng.rand() < 0.4),
                )
                if local:
                    f["palette"] = pal
                frames.append(f)
            payload = mm.encode_gif_animation(
                frames, (w, h), global_palette=gpal
            )
            got = mm.decode_gif_frames(payload)
            want = self._reference(frames, (w, h), gpal)
            assert len(got) == len(want)
            for (d, g), wv, f in zip(got, want, frames):
                assert d == f.get("delay_cs", 0)
                assert np.array_equal(g, wv), trial

    def test_no_gct_single_frame_and_guards(self):
        idx, ncol = mm._gif_indices(3)
        pal = mm._gif_palette(ncol)
        payload = mm.encode_gif_animation(
            [dict(indices=idx, palette=pal)], idx.shape[::-1]
        )
        # the r12 no-GCT guard is gone: local table decodes fine
        assert np.array_equal(mm.decode_gif(payload), pal[idx])
        # a frame with NEITHER table fails loud
        with pytest.raises(ValueError, match="palette|color table"):
            mm.encode_gif_animation(
                [dict(indices=idx)], idx.shape[::-1]
            )

    def test_interlace_order(self):
        assert mm._gif_deinterlace_order(10) == [
            0, 8, 4, 2, 6, 1, 3, 5, 7, 9
        ]
        # single-row image: pass 1 only
        assert mm._gif_deinterlace_order(1) == [0]


class TestWebpAnimation:
    """Animated WebP (VP8X+ANIM+ANMF, r13): frame walk over the shared
    VP8L still decoder, blend/no-blend, dispose-to-background."""

    @staticmethod
    def _reference(frames, canvas):
        cw, ch = canvas
        cv = np.zeros((ch, cw, 4), np.int64)
        outs = []
        for f in frames:
            px = np.asarray(f["px"], np.int64)
            if px.shape[2] == 3:
                px = np.concatenate(
                    [px, np.full(px.shape[:2] + (1,), 255, np.int64)],
                    axis=2,
                )
            fh, fw = px.shape[:2]
            x, y = f.get("x", 0), f.get("y", 0)
            reg = cv[y : y + fh, x : x + fw]
            if not f.get("blend", True):
                out = px
            else:
                sa, da = px[:, :, 3:4], reg[:, :, 3:4]
                oa = sa + da * (255 - sa) // 255
                num = (px[:, :, :3] * sa * 255
                       + reg[:, :, :3] * da * (255 - sa))
                rgb = np.where(
                    oa > 0, num // (255 * np.maximum(oa, 1)), 0
                )
                out = np.concatenate([rgb, oa], axis=2)
            cv[y : y + fh, x : x + fw] = out
            outs.append(cv.astype(np.uint8).copy())
            if f.get("dispose_bg"):
                cv[y : y + fh, x : x + fw] = 0
        return outs

    def test_roundtrip_vs_reference_compositor(self):
        rng = np.random.RandomState(9)
        for trial in range(12):
            cw = int(rng.randint(8, 32)) * 2
            ch = int(rng.randint(8, 32)) * 2
            frames = []
            for fi in range(rng.randint(1, 4)):
                fw = int(rng.randint(1, cw + 1))
                fh = int(rng.randint(1, ch + 1))
                x = int(rng.randint(0, (cw - fw) // 2 + 1)) * 2
                y = int(rng.randint(0, (ch - fh) // 2 + 1)) * 2
                nch = int(rng.choice([3, 4]))
                px = rng.randint(0, 256, (fh, fw, nch)).astype(np.uint8)
                frames.append(
                    dict(px=px, x=x, y=y, duration_ms=fi * 40,
                         blend=bool(rng.rand() < 0.5),
                         dispose_bg=bool(rng.rand() < 0.5))
                )
            payload = mm.encode_webp_animation(frames, (cw, ch), loop=2)
            got = mm.decode_webp_frames(payload)
            want = self._reference(frames, (cw, ch))
            assert len(got) == len(want)
            for (d, g), wv, f in zip(got, want, frames):
                assert d == f["duration_ms"]
                assert np.array_equal(g, wv), trial
            # first-frame convenience path
            first = mm.decode_webp_lossless(payload)
            w0 = want[0]
            exp = (
                w0[:, :, :3] if np.all(w0[:, :, 3] == 255) else w0
            )
            assert np.array_equal(first, exp)

    def test_rgba_stills_roundtrip(self):
        rng = np.random.RandomState(1)
        px = rng.randint(0, 256, (20, 30, 4)).astype(np.uint8)
        assert np.array_equal(
            mm.decode_webp_lossless(mm.encode_webp_lossless(px)), px
        )

    def test_guards(self):
        px = np.zeros((4, 4, 3), np.uint8)
        with pytest.raises(ValueError, match="even"):
            mm.encode_webp_animation(
                [dict(px=px, x=1)], (8, 8)
            )
        # a VP8 frame tag over a non-VP8 body fails loud inside the
        # ANMF walk (r14: lossy ANMF frames now decode for real —
        # garbage must still never mis-decode; here the VP8L
        # signature byte's low bit reads as the inter-frame flag)
        payload = bytearray(
            mm.encode_webp_animation([dict(px=px)], (8, 8))
        )
        lossy = bytes(payload).replace(b"VP8L", b"VP8 ")
        with pytest.raises((ValueError, NotImplementedError)):
            mm.decode_webp_frames(lossy)
        # oversized frame placement is a corrupt stream
        big = mm.encode_webp_animation(
            [dict(px=np.zeros((8, 8, 3), np.uint8), x=4, y=4)], (8, 8)
        )
        with pytest.raises(ValueError, match="exceeds"):
            mm.decode_webp_frames(big)


def test_vp8l_uniform_alphabet_header():
    """r13 regression: an image whose literals occupy ~all 256 byte
    values with equal frequency makes every code length equal, so the
    code-length code collapses to ONE symbol; the huffman builder
    gives it length 0 and the serialized length table read back as an
    all-zero ('empty') prefix code. Any 64x48 smooth ramp hit it."""
    x = np.arange(64)[None, :, None]
    y = np.arange(48)[:, None, None]
    c = np.arange(3)[None, None, :]
    px = ((x * 7 + y * 13 + c * 29) % 256).astype(np.uint8)
    for kw in (dict(), dict(lz77=False), dict(cache_bits=4)):
        p = mm.encode_webp_lossless(px, **kw)
        assert np.array_equal(mm.decode_webp_lossless(p), px), kw


def _payloads(build):
    """An ``accepted`` input of n ``(payload_id, payload)`` rows, the
    i-th payload being ``build(i)``."""
    return lambda spark, n: spark.createDataFrame(
        [(i, build(i)) for i in range(n)], "payload_id long, payload binary"
    )


def _gz(i):
    import gzip

    return gzip.compress(f"doc {i}".encode(), mtime=0)


def _avro(i):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "name", "type": "string"}]}
    return avro.avro_build(schema, [{"name": f"r{i}"}])


def _parquet_paths(spark, n):
    import glob

    from conftest import SF_DIR

    return spark, sorted(glob.glob(f"{SF_DIR}/*.parquet"))[:n]


# Every per-row stage: (stage, declared schema — a DDL string where it
# follows the input's id column, an input it accepts, an input whose
# rows it filters out — None for the stages that do not filter:
# decode_stats raises on an unknown mime, resize_images passes non-BMP
# rows through, and the payload readers and chunker take every row).
_PER_ROW_STAGES = {
    "decode_stats": (
        mm.decode_stats, mm.MEDIA_STATS_SCHEMA, mm.make_real_media, None,
    ),
    "resize_images": (
        lambda m: mm.resize_images(m, 4, 4), mm.MEDIA_SCHEMA,
        mm.make_real_media, None,
    ),
    "sample_frames": (
        mm.sample_frames, mm.SAMPLED_FRAME_SCHEMA, mm.make_real_media,
        mm.make_png_media,
    ),
    "vad_segments": (
        mm.vad_segments, mm.VAD_STATS_SCHEMA, mm.make_real_media,
        mm.make_png_media,
    ),
    "video_motion_stats": (
        mm.video_motion_stats, mm.MOTION_STATS_SCHEMA, mm.make_real_media,
        mm.make_png_media,
    ),
    "jpeg_decode_stats": (
        mm.jpeg_decode_stats, mm.JPEG_STATS_SCHEMA, mm.make_jpeg_media,
        mm.make_adpcm_media,
    ),
    "png_decode_stats": (
        mm.png_decode_stats, mm.PNG_STATS_SCHEMA, mm.make_png_media,
        mm.make_adpcm_media,
    ),
    "g711_decode_stats": (
        mm.g711_decode_stats, mm.G711_STATS_SCHEMA, mm.make_g711_media,
        mm.make_png_media,
    ),
    "adpcm_decode_stats": (
        mm.adpcm_decode_stats, mm.ADPCM_STATS_SCHEMA, mm.make_adpcm_media,
        mm.make_png_media,
    ),
    "gif_decode_stats": (
        mm.gif_decode_stats, mm.GIF_STATS_SCHEMA,
        lambda s, n: mm.make_gif_media(s, n, anim=1), mm.make_adpcm_media,
    ),
    "qoi_decode_stats": (
        mm.qoi_decode_stats, mm.QOI_STATS_SCHEMA, mm.make_qoi_media,
        mm.make_adpcm_media,
    ),
    "webp_decode_stats": (
        mm.webp_decode_stats, mm.WEBP_STATS_SCHEMA,
        lambda s, n: mm.make_webp_media(s, n, anim=1), mm.make_adpcm_media,
    ),
    "avi_decode_stats": (
        mm.avi_decode_stats, mm.AVI_STATS_SCHEMA, mm.make_avi_media,
        mm.make_png_media,
    ),
    "vp8_decode_stats": (
        mm.vp8_decode_stats, mm.VP8_STATS_SCHEMA, mm.make_vp8_media,
        mm.make_adpcm_media,
    ),
    "media_ahash": (
        mm.media_ahash, mm.AHASH_SCHEMA,
        lambda s, n: mm.make_ahash_media(s, n, n_pairs=1),
        mm.make_adpcm_media,
    ),
    "transcode_audio": (
        mm.transcode_audio, mm.TRANSCODE_SCHEMA, mm.make_wav_variant_media,
        mm.make_png_media,
    ),
    "resample_audio": (
        lambda m: mm.resample_audio(m, 4000), mm.TRANSCODE_SCHEMA,
        mm.make_wav_variant_media, mm.make_png_media,
    ),
    "augment_decode_stats": (
        mm.augment_decode_stats, mm.AUGMENT_STATS_SCHEMA,
        mm.make_png_media, mm.make_adpcm_media,
    ),
    "wav_depth_stats": (
        mm.wav_depth_stats, mm.WAV_DEPTH_STATS_SCHEMA,
        mm.make_wav_depth_media, mm.make_png_media,
    ),
    "webp_alpha_stats": (
        mm.webp_alpha_stats, mm.WEBP_ALPHA_STATS_SCHEMA,
        mm.make_webp_alpha_media, mm.make_adpcm_media,
    ),
    "gzip_ingest": (
        tx.gzip_ingest,
        "payload_id long, member_idx int not null, text string not null",
        _payloads(_gz), None,
    ),
    "warc_ingest": (
        tx.warc_ingest,
        "payload_id long, record_idx int not null, warc_type string not "
        "null, target_uri string, warc_date string, http_status int, "
        "content_type string, text string",
        _payloads(lambda i: tx.warc_build(
            [{"warc_type": "response", "http_status": 200, "body": b"x"}]
        )), None,
    ),
    "archive_ingest": (
        archives.archive_ingest,
        "payload_id long, member_idx int not null, name string not null, "
        "n_bytes long not null, text string",
        _payloads(lambda i: archives.tar_build([(f"{i}.txt", b"x")])), None,
    ),
    "avro_ingest": (
        lambda df: avro.avro_ingest(df, "name string"),
        "payload_id long, record_idx int not null, name string",
        _payloads(_avro), None,
    ),
    "cdc_chunk_rows": (
        tx.cdc_chunk_rows,
        "doc_id long, chunk_idx int not null, chunk string",
        lambda spark, n: spark.createDataFrame(
            [(i, "text " * 40) for i in range(n)], "doc_id long, text string"
        ), None,
    ),
    "parquet_layout": (
        lambda a: quality.parquet_layout(*a),
        "file_name string not null, row_group int not null, n_rows long "
        "not null, n_columns long not null, n_bytes_compressed long not null",
        _parquet_paths, None,
    ),
}


def test_truncated_dht_raises_valueerror():
    """A DHT whose symbol list is shorter than its code counts is a
    format-driven miss, so decode_stats' quarantine mode catches it."""
    with pytest.raises(ValueError):
        mm._huff_codes(mm._AC_BITS, mm._AC_VALS[:-1])


@pytest.mark.parametrize("name", sorted(_PER_ROW_STAGES))
def test_per_row_stage_contract(spark, name):
    """Each per-row stage declares its schema, runs as exactly one
    MapInPandas, and an input of another format yields 0 rows."""
    from pyspark.sql.types import StructType

    stage, schema, accepted, rejected = _PER_ROW_STAGES[name]
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    df = stage(accepted(spark, 3))
    assert df.schema == schema
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an adaptive plan (parquet_layout's repartition) prints its final
    # and its initial plan: count the final one
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("MapInPandas") == 1, plan
    if rejected is not None:
        assert stage(rejected(spark, 3)).collect() == []
