"""Pure-Python media codec tests: golden-byte decodes (hand-assembled
containers, not roundtrips), padding/row-order/channel-order traps, RIFF
chunk walking, and encode→decode roundtrip properties."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_sink_azure_kusto_spark.functions.codecs import (
    MediaDecodeError,
    decode_bmp,
    decode_media_bytes,
    decode_png,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav,
)


# ---------------------------------------------------------------- golden BMP


def test_bmp_golden_2x2_hand_assembled():
    # 2x2 24bpp BMP assembled by hand: stride = 6+2 pad = 8 bytes/row,
    # bottom-up storage, BGR within pixel. Logical (top-down RGB):
    #   row0: (255,0,0) (0,255,0)
    #   row1: (0,0,255) (10,20,30)
    bottom_row = bytes([255, 0, 0, 30, 20, 10]) + b"\x00\x00"  # stored first
    top_row = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"
    pixels = bottom_row + top_row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    m = decode_bmp(header + info + pixels)
    assert (m.width, m.height) == (2, 2)
    assert list(m.samples) == [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]


def test_bmp_top_down_negative_height():
    # Negative height ⇒ rows stored top-down; decoder must NOT flip.
    rows = bytes([1, 2, 3]) + b"\x00" + bytes([4, 5, 6]) + b"\x00"  # 1px/row, pad 1
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, -2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    m = decode_bmp(header + info + rows)
    # stored BGR ⇒ logical RGB reversed per pixel, rows in stored order
    assert list(m.samples) == [3, 2, 1, 6, 5, 4]


@pytest.mark.parametrize("width", [1, 2, 3, 4, 5])
def test_bmp_roundtrip_all_paddings(width):
    # widths 1..5 hit every row-padding remainder (3w % 4 = 3,2,1,0,3)
    h = 3
    rgb = [(i * 7 + c) % 256 for i in range(width * h) for c in (0, 1, 2)]
    m = decode_bmp(encode_bmp(width, h, rgb))
    assert (m.width, m.height) == (width, h)
    assert list(m.samples) == rgb


def test_bmp_rejects_wrong_magic_and_bpp():
    with pytest.raises(MediaDecodeError, match="not a BMP"):
        decode_bmp(b"XX" + b"\x00" * 60)
    header = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
    info8 = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 0, 0, 0, 0, 0)
    with pytest.raises(MediaDecodeError, match="bpp=8"):
        decode_bmp(header + info8)


def test_bmp_truncated_pixel_array():
    full = encode_bmp(3, 3, [0] * 27)
    with pytest.raises(MediaDecodeError, match="truncated"):
        decode_bmp(full[:-5])


# ---------------------------------------------------------------- golden PPM


def test_ppm_golden_with_comments_and_whitespace():
    raster = bytes([9, 8, 7, 1, 2, 3])
    data = b"P6 # raw ppm\n# size next\n 2\t1 # dims\n255\n" + raster
    m = decode_ppm(data)
    assert (m.width, m.height) == (2, 1)
    assert list(m.samples) == [9, 8, 7, 1, 2, 3]


def test_ppm_roundtrip():
    rgb = [(i * 13) % 256 for i in range(3 * 4 * 2)]
    m = decode_ppm(encode_ppm(4, 2, rgb))
    assert (m.width, m.height, list(m.samples)) == (4, 2, rgb)


def test_ppm_rejects_bad_maxval_and_truncation():
    with pytest.raises(MediaDecodeError, match="maxval=65535"):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    with pytest.raises(MediaDecodeError, match="truncated"):
        decode_ppm(b"P6\n2 2\n255\n" + b"\x00" * 5)


# ---------------------------------------------------------------- golden WAV


def test_wav_golden_hand_assembled_with_extra_chunk():
    # fmt, an unknown LIST chunk (odd length ⇒ word-align pad), then data.
    samples = [0, 1000, -1000, 32767, -32768]
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    listc = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    data = struct.pack("<5h", *samples)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + listc + b"data" + struct.pack("<I", len(data)) + data)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    m = decode_wav(payload)
    assert m.sample_rate == 16000
    assert list(m.samples) == samples


def test_wav_roundtrip_and_rejects():
    samples = [((i * 997) % 65536) - 32768 for i in range(100)]
    m = decode_wav(encode_wav(samples, 8000))
    assert m.sample_rate == 8000 and list(m.samples) == samples
    with pytest.raises(MediaDecodeError, match="not a RIFF"):
        decode_wav(b"RIFX" + b"\x00" * 40)
    stereo_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(stereo_fmt)) + stereo_fmt
    with pytest.raises(MediaDecodeError, match="ch=2"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_wav_truncated_fmt_body_is_media_error():
    # fmt chunk DECLARES 16 bytes but the file ends after 4 — must raise
    # MediaDecodeError, not a bare struct.error from unpack_from.
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    with pytest.raises(MediaDecodeError, match="fmt chunk truncated"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_zero_sample_media_raises_media_error():
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        _decoded_stats,
        media_features,
    )

    empty_wav = encode_wav([], 8000)
    m = decode_wav(empty_wav)
    assert len(m.samples) == 0
    with pytest.raises(MediaDecodeError, match="zero-sample"):
        _decoded_stats(7, len(empty_wav), m)
    with pytest.raises(MediaDecodeError, match="zero-sample"):
        media_features(m)


# ------------------------------------------------------------------ dispatch


def test_dispatch_by_magic():
    assert decode_media_bytes(encode_bmp(1, 1, [1, 2, 3])).media_type == "bmp"
    assert decode_media_bytes(encode_ppm(1, 1, [1, 2, 3])).media_type == "ppm"
    assert decode_media_bytes(encode_wav([0], 8000)).media_type == "wav"
    assert decode_media_bytes(encode_png(1, 1, [1, 2, 3])).media_type == "png"
    with pytest.raises(MediaDecodeError, match="unrecognized"):
        decode_media_bytes(b"\x89PNG\r\n")  # short of the 8-byte signature


# ------------------------------------------------------------------ PNG


def test_png_golden_1x1_hand_assembled():
    """1×1 RGB PNG assembled by hand from the spec (stored-deflate
    zlib stream, filter byte 0) — pins signature, chunk framing,
    IHDR layout, CRC placement, and the scanline walk independent of
    the encoder."""
    import struct as _s
    import zlib as _z

    raw = b"\x00\x0a\x14\x1e"  # filter 0, pixel RGB (10,20,30)
    idat_body = (
        b"\x78\x01"
        + b"\x01" + _s.pack("<HH", 4, 4 ^ 0xFFFF) + raw
        + _s.pack(">I", _z.adler32(raw))
    )
    ihdr_body = _s.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)

    def chunk(t, b):
        return _s.pack(">I", len(b)) + t + b + _s.pack(">I", _z.crc32(t + b))

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr_body)
        + chunk(b"IDAT", idat_body)
        + chunk(b"IEND", b"")
    )
    assert encode_png(1, 1, [10, 20, 30]) == data
    m = decode_png(data)
    assert (m.media_type, m.width, m.height) == ("png", 1, 1)
    assert list(m.samples) == [10, 20, 30]


def test_png_all_filter_types_roundtrip():
    # ≥5 rows ⇒ the cycling encoder emits every filter type; a gradient
    # raster makes Sub/Up/Average/Paeth all take non-trivial branches
    w, h = 7, 6
    rgb = [(x * 41 + 3) % 256 for x in range(3 * w * h)]
    m = decode_png(encode_png(w, h, rgb))
    assert list(m.samples) == rgb
    # and through real zlib compression
    m6 = decode_png(encode_png(w, h, rgb, level=6))
    assert list(m6.samples) == rgb


def test_png_rgba_alpha_stripped():
    w, h = 3, 5
    rgb = [(x * 7) % 256 for x in range(3 * w * h)]
    alpha = [(x * 11) % 256 for x in range(w * h)]
    m = decode_png(encode_png(w, h, rgb, alpha=alpha))
    assert (m.width, m.height) == (w, h)
    assert list(m.samples) == rgb  # 3-channel contract preserved


def test_png_loud_rejects():
    good = encode_png(2, 2, list(range(12)))
    with pytest.raises(MediaDecodeError, match="truncated"):
        decode_png(good[:20])
    corrupt = bytearray(good)
    corrupt[-6] ^= 0xFF  # inside IEND CRC
    with pytest.raises(MediaDecodeError, match="CRC"):
        decode_png(bytes(corrupt))
    # unsupported shapes: 16-bit depth, palette color, interlace
    import struct as _s
    import zlib as _z

    def chunk(t, b):
        return _s.pack(">I", len(b)) + t + b + _s.pack(">I", _z.crc32(t + b))

    for depth, color, interlace, msg in (
        (16, 2, 0, "depth"),
        (8, 3, 0, "color"),
        (8, 2, 2, "interlace"),  # 0/1 supported (r11 Adam7); 2 is not
    ):
        ihdr = _s.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        data = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(MediaDecodeError, match=msg):
            decode_png(data)
    # scanline byte count must match geometry exactly
    bad_idat = _z.compress(b"\x00" * 5)  # 1x1 RGB needs 4 bytes, not 5
    ihdr = _s.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bad_idat)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(MediaDecodeError, match="scanline"):
        decode_png(data)


# ------------------------------------------------------------------ property


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_image_roundtrip_property(w, h, seed):
    rgb = [(seed * 31 + i * 7) % 256 for i in range(3 * w * h)]
    for enc, dec in ((encode_bmp, decode_bmp), (encode_ppm, decode_ppm)):
        m = dec(enc(w, h, rgb))
        assert (m.width, m.height, list(m.samples)) == (w, h, rgb)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=300),
    seed=st.integers(min_value=0, max_value=10_000),
    rate=st.sampled_from([8000, 11025, 16000, 44100]),
)
def test_wav_roundtrip_property(n, seed, rate):
    samples = [((seed * 131 + i * 17) % 65536) - 32768 for i in range(n)]
    m = decode_wav(encode_wav(samples, rate))
    assert m.sample_rate == rate and list(m.samples) == samples


# --------------------------------------------------- perceptual hashing
def test_dhash_brightness_invariance_and_sensitivity():
    """dHash bit semantics: a global brightness shift (no 8-bit wrap)
    leaves the hash unchanged; reversing the gradient flips bits."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import dhash64

    w, h = 16, 8
    base = np.tile(np.arange(w, dtype=np.int64) * 3, h)  # rising rows
    rgb = np.repeat(base, 3)
    m1 = DecodedMedia("bmp", w, h, 0, rgb)
    m2 = DecodedMedia("bmp", w, h, 0, rgb + 40)  # brighter, no wrap
    assert dhash64(m1) == dhash64(m2)
    m3 = DecodedMedia("bmp", w, h, 0, np.repeat(base[::-1].copy(), 3))
    assert dhash64(m1) != dhash64(m3)
    # 63-bit sign safety
    assert 0 <= dhash64(m1) < (1 << 63)


def test_audio_fingerprint_gain_invariance():
    """Frame-energy delta-sign bits survive integer gain scaling and
    differ for a reversed envelope."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        audio_fingerprint,
    )

    n = 128
    env = np.concatenate([np.arange(64), 64 - np.arange(64)]).astype(np.int64)
    s = env * 100
    a1 = DecodedMedia("wav", 0, 0, 8000, s)
    a2 = DecodedMedia("wav", 0, 0, 8000, s * 3)  # gain x3
    assert audio_fingerprint(a1) == audio_fingerprint(a2)
    a3 = DecodedMedia("wav", 0, 0, 8000, s[::-1].copy())
    assert audio_fingerprint(a1) != audio_fingerprint(a3)
    assert 0 <= audio_fingerprint(a1) < (1 << 31)


def test_dhash_pairs_find_exact_duplicates(spark):
    """Two docs with the same media identity hash identically and pair
    at hamming 0 through the block-LSH machinery; the block cap drops
    a hot identical-image bucket."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        dhash_neardup_pairs,
        media_dhash,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    hashes = media_dhash(docs, media_id=F.col("doc_id") % 3)  # kinds 0,1 image
    pairs = dhash_neardup_pairs(hashes, max_hamming=0).collect()
    assert len(pairs) > 0
    assert all(r["hamming"] == 0 for r in pairs)
    capped = dhash_neardup_pairs(
        hashes, max_hamming=0, block_member_cap=1
    ).collect()
    assert len(capped) == 0  # every bucket is hot → all dropped


def test_perceptual_pairs_decode_runs_once_in_plan(spark):
    """VERDICT r7 #1: the (doc_id, dhash) frame is materialized before
    the self-join, so the executed plan of the PAIRS query contains NO
    MapInPandas — the Arrow decode ran exactly once, in the eager
    checkpoint job, not once per join side."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        dhash_neardup_pairs,
        media_dhash,
        media_audio_fingerprint,
        audio_neardup_pairs,
    )

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    pairs = dhash_neardup_pairs(
        media_dhash(docs, media_id=F.col("doc_id") % 7), max_hamming=10
    )
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    apairs = audio_neardup_pairs(
        media_audio_fingerprint(docs, media_id=F.col("doc_id") % 7 + 2)
    )
    apairs.collect()
    aplan = apairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in aplan, aplan


def test_video_frame_dhash_and_majority_pairs(spark):
    """Video dedup semantics on a controlled corpus: same video
    identity ⇒ every aligned sampled frame matches at hamming 0 ⇒ the
    majority rule fires; distinct identities with different frame
    pixels don't pair. Decode subtree must not appear in the pairs
    plan (materialized before the self-join)."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        video_frame_dhash,
        video_neardup_pairs,
    )

    # 3 copies of identity 5, 2 of identity 11
    rows = [(0, 5), (1, 5), (2, 5), (3, 11), (4, 11)]
    docs = spark.createDataFrame(rows, ["doc_id", "vid"])
    hashes = video_frame_dhash(docs, media_id=F.col("vid"), every_k=2)
    got = hashes.collect()
    # identity 5 → 3+5%6=8 frames, sampled {0,2,4,6} → 4 rows per doc
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.dhash))
    assert len(per_doc[0]) == 4
    assert sorted(per_doc[0]) == sorted(per_doc[1]) == sorted(per_doc[2])
    pairs = video_neardup_pairs(hashes)
    res = {(r.left_id, r.right_id): (r.matched_frames, r.min_sampled)
           for r in pairs.collect()}
    for (l, r) in [(0, 1), (0, 2), (1, 2), (3, 4)]:
        assert (l, r) in res, res
        m, s = res[(l, r)]
        assert m == s  # identical videos: every sampled frame matches
    assert not any(
        (l, r) in res for l in (0, 1, 2) for r in (3, 4)
    ), res
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan


def test_clip_align_scores_match_python_reference(spark):
    """r8 image-text alignment: exact against a numpy replay of the
    feature→projection→cosine chain, and the plan stays one Arrow pass
    (the feature extract) + one join — no per-dim shuffle."""
    import numpy as np
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions import multimodal as M
    from kafka_sink_azure_kusto_spark.functions.codecs import (
        decode_media_bytes,
    )

    ids = [0, 1, 2, 5, 8, 11]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rng_emb = {
        i: [float(((i * 13 + d * 7) % 19) - 9) / 10.0 for d in range(64)]
        for i in ids
    }
    emb = spark.createDataFrame(
        [(i, rng_emb[i]) for i in ids], "vec_id long, embedding array<float>"
    )
    got = {
        r.doc_id: r
        for r in M.clip_align_scores(
            M.synth_feature_extract(docs), emb, dim=64, threshold=0.0
        ).collect()
    }
    for i in ids:
        feats = M.media_features(
            decode_media_bytes(M.synth_media_payload(i))
        )
        img = np.array(
            [
                sum(feats[f] * M._clip_proj(f, d) for f in range(8))
                for d in range(64)
            ],
            dtype=np.float64,
        )
        e = np.array(np.array(rng_emb[i], dtype=np.float32), dtype=np.float64)
        want = float(e @ img / (np.sqrt(e @ e) * np.sqrt(img @ img)))
        assert abs(got[i].align_score - round(want, 6)) <= 1e-6, (i, got[i], want)
        assert got[i].keep == (want >= 0.0)


def test_temperature_mix_rates_formula(spark):
    """n^0.5 temperature rates: verified against the closed form, caps
    at 1.0 for tiny domains."""
    from kafka_sink_azure_kusto_spark.functions.corpus import (
        temperature_mix_rates,
    )

    rows = [(i, "big") for i in range(90)] + [(90 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {
        r.source: r.keep_rate
        for r in temperature_mix_rates(df, "source", 0.5, 40).collect()
    }
    import math

    tw = math.sqrt(90) + math.sqrt(10)
    assert abs(rates["big"] - (math.sqrt(90) / tw) * 40 / 90) < 1e-12
    assert abs(rates["small"] - (math.sqrt(10) / tw) * 40 / 10) < 1e-12
    # tiny domain: rate caps at 1
    rows2 = rows + [(200, "tiny")]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string")
    r2 = {
        r.source: r.keep_rate
        for r in temperature_mix_rates(df2, "source", 0.5, 90).collect()
    }
    assert r2["tiny"] == 1.0


def test_video_block_member_cap_drops_hot_buckets(spark):
    """r8 degenerate-block guard: identical videos fill every aligned
    block bucket — cap=1 drops all candidate generation (template mass
    belongs to exact dedup), a generous cap keeps the pairs."""
    from pyspark.sql import functions as F

    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        video_frame_dhash,
        video_neardup_pairs,
    )

    rows = [(i, 5) for i in range(4)]  # 4 copies of identity 5
    docs = spark.createDataFrame(rows, ["doc_id", "vid"])
    hashes = video_frame_dhash(docs, media_id=F.col("vid"), every_k=2)
    open_pairs = video_neardup_pairs(hashes).collect()
    assert len(open_pairs) == 6  # C(4,2), every pair matches fully
    capped = video_neardup_pairs(hashes, block_member_cap=1).collect()
    assert capped == []  # all buckets hot -> dropped
    generous = video_neardup_pairs(hashes, block_member_cap=16).collect()
    assert len(generous) == 6


def test_resize_nearest_identity_and_known_case():
    """Real resize: identity at source dims; a 2x downscale of a known
    4x2 raster gathers exactly the expected pixels (top-left rule of
    the integer floor map)."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        resize_nearest,
    )

    # 4 wide x 2 high, RGB interleaved row-major: pixel p has channels
    # (10p, 10p+1, 10p+2)
    samples = np.array(
        [v for p in range(8) for v in (10 * p, 10 * p + 1, 10 * p + 2)],
        dtype=np.int64,
    )
    m = DecodedMedia(
        media_type="bmp", width=4, height=2, sample_rate=0, samples=samples
    )
    ident = resize_nearest(m, 4, 2)
    assert (ident == samples).all()
    half = resize_nearest(m, 2, 1)  # rows->row 0, cols->{0,2}
    assert half.tolist() == [0, 1, 2, 20, 21, 22]
    up = resize_nearest(m, 8, 2)  # upscale duplicates columns
    assert up[:6].tolist() == [0, 1, 2, 0, 1, 2]


def test_resample_nearest_known_case():
    """Audio resample gather: n_out = n*target//rate; a 8->4 kHz
    half-rate conversion of a known ramp takes every 2nd sample
    (floor map)."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        resample_nearest,
    )

    m = DecodedMedia(
        media_type="wav", width=0, height=0, sample_rate=8000,
        samples=np.arange(10, dtype=np.int64) * 3,
    )
    half = resample_nearest(m, 4000)
    assert half.tolist() == [0, 6, 12, 18, 24]  # every 2nd of the ramp
    same = resample_nearest(m, 8000)
    assert same.tolist() == (np.arange(10) * 3).tolist()


def test_resize_bilinear_identity_midpoint_and_reference():
    """Bilinear (Q8/Q16 integer): identity when out dims == in dims
    (phases all land on integer coordinates, weights 0); a 2-pixel-row
    interpolation at the midpoint averages exactly; and a brute-force
    scalar reimplementation of the documented formula agrees on a
    random raster."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        resize_bilinear,
    )

    samples = np.array(
        [v for p in range(8) for v in (10 * p, 10 * p + 1, 10 * p + 2)],
        dtype=np.int64,
    )
    m = DecodedMedia(
        media_type="bmp", width=4, height=2, sample_rate=0, samples=samples
    )
    ident = resize_bilinear(m, 4, 2)
    assert (ident == samples).all()

    # 1x2 column of pixels 0 and 100 -> 1x3 align-corners: midpoint
    # phase fy = 1*1*256//2 = 128 -> (128*0 + 128*100*256)>>16 = 50
    col = DecodedMedia(
        media_type="bmp", width=1, height=2, sample_rate=0,
        samples=np.array([0, 0, 0, 100, 100, 100], dtype=np.int64),
    )
    out = resize_bilinear(col, 1, 3)
    assert out.reshape(3, 3)[:, 0].tolist() == [0, 50, 100]

    # scalar reference on a pseudo-random 5x4 raster -> 8x6
    rng = np.random.RandomState(3)
    raster = rng.randint(0, 256, size=4 * 5 * 3).astype(np.int64)
    mm = DecodedMedia(
        media_type="bmp", width=5, height=4, sample_rate=0, samples=raster
    )
    got = resize_bilinear(mm, 8, 6).reshape(6, 8, 3)
    s = raster.reshape(4, 5, 3)
    for r in range(6):
        for c in range(8):
            fy = (r * 3 * 256) // 5
            fx = (c * 4 * 256) // 7
            y0, wy = fy >> 8, fy & 255
            x0, wx = fx >> 8, fx & 255
            y1, x1 = min(y0 + 1, 3), min(x0 + 1, 4)
            for ch in range(3):
                exp = (
                    (256 - wy) * ((256 - wx) * s[y0, x0, ch] + wx * s[y0, x1, ch])
                    + wy * ((256 - wx) * s[y1, x0, ch] + wx * s[y1, x1, ch])
                ) >> 16
                assert got[r, c, ch] == exp


def test_resample_sinc_table_and_dc_gain():
    """Q12 sinc table sanity: phase 0 is a unit impulse (passthrough
    at integer positions — center tap 4096, all others 0 because sinc
    hits integer zeros), so same-rate 'conversion' reproduces the
    input ×4096; every phase's DC gain stays within 2% of 4096 (window
    normalization)."""
    import numpy as np

    from kafka_sink_azure_kusto_spark.functions.codecs import DecodedMedia
    from kafka_sink_azure_kusto_spark.functions.multimodal import (
        SINC_Q,
        SINC_TABLE,
        resample_sinc,
    )

    assert SINC_TABLE[0][3] == SINC_Q
    assert all(SINC_TABLE[0][t] == 0 for t in range(8) if t != 3)
    for row in SINC_TABLE:
        assert abs(sum(row) - SINC_Q) <= SINC_Q * 0.02

    sig = np.arange(20, dtype=np.int64) * 5 - 30
    m = DecodedMedia(
        media_type="wav", width=0, height=0, sample_rate=8000, samples=sig
    )
    same = resample_sinc(m, 8000)
    assert same.tolist() == (sig * SINC_Q).tolist()


def test_bilinear_and_sinc_plans_single_mapinpandas(spark):
    """Every fixture media operator keeps the decode-once single-Arrow-
    pass plan: exactly 1 MapInPandas, with the JVM-side kind filter
    below it for the kind-filtered operators. A kind filter that keeps
    nothing yields an empty frame with the operator's schema."""
    from kafka_sink_azure_kusto_spark.functions import multimodal as M

    df = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    for fn, kind_filtered in [
        (M.synth_decode_media, False), (M.synth_feature_extract, False),
        (M.video_frame_dhash, False), (M.media_dhash, True),
        (M.media_dhash_and_features, True), (M.media_audio_fingerprint, True),
        (M.synth_resize_stats, True), (M.synth_resize_bilinear_stats, True),
        (M.synth_crop_stats, True), (M.synth_audio_resample_stats, True),
        (M.synth_audio_resample_sinc_stats, True),
    ]:
        plan = fn(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        below = plan[plan.index("MapInPandas"):]
        assert ("Filter" in below and "% 3" in below) == kind_filtered, plan
    empty = M.synth_resize_stats(spark.range(0, 30).selectExpr("id * 3 + 2 AS doc_id"))
    assert empty.schema == M.RESIZE_SCHEMA and empty.collect() == []


def test_png_adam7_interlace_roundtrip():
    """r11: Adam7 interlaced PNGs (interlace=1) — each of the 7 passes
    filtered/unfiltered as its own sub-image, scattered back into the
    full raster. Geometry sweep covers passes that are empty (1×1, 1×7,
    5×1) and rasters aligned/unaligned to the 8×8 tile."""
    import numpy as np

    rng = np.random.default_rng(11)
    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (16, 11), (5, 1), (1, 7)]:
        rgb = rng.integers(0, 256, 3 * w * h)
        for lvl in (0, 6):
            m = decode_png(encode_png(w, h, rgb, level=lvl, interlace=True))
            assert list(m.samples) == list(rgb), (w, h, lvl)
        a = rng.integers(0, 256, w * h)
        m = decode_png(encode_png(w, h, rgb, alpha=a, interlace=True))
        assert list(m.samples) == list(rgb)
    # truncated interlaced scanline data rejects loudly
    good = encode_png(8, 8, list(range(8 * 8)) * 3, interlace=True)
    with pytest.raises(MediaDecodeError):
        decode_png(good[:60])


def test_png_grayscale_roundtrip():
    """r11: grayscale PNGs (color types 0 and 4) decode with the gray
    channel replicated x3, preserving the (h, w, 3) operator contract;
    gray-alpha drops alpha like RGBA."""
    from kafka_sink_azure_kusto_spark.functions.codecs import encode_png_gray

    w, h = 9, 6
    gray = [(x * 37 + 5) % 256 for x in range(w * h)]
    expect = [g for g in gray for _ in range(3)]
    for interlace in (False, True):
        m = decode_png(encode_png_gray(w, h, gray, interlace=interlace))
        assert (m.media_type, m.width, m.height) == ("png", w, h)
        assert list(m.samples) == expect
        alpha = [(x * 11) % 256 for x in range(w * h)]
        m4 = decode_png(
            encode_png_gray(w, h, gray, alpha=alpha, interlace=interlace)
        )
        assert list(m4.samples) == expect


def test_wav_g711_ulaw_alaw():
    """r11: G.711 telephony WAV (fmt 6 A-law, fmt 7 µ-law) expands to
    16-bit linear; anchors pinned to Sun g711.c / published tables."""
    import struct as _s

    def wav(fmt, body):
        f = _s.pack("<HHIIHH", fmt, 1, 8000, 8000, 1, 8)
        b = (b"WAVE" + b"fmt " + _s.pack("<I", len(f)) + f
             + b"data" + _s.pack("<I", len(body)) + body)
        return b"RIFF" + _s.pack("<I", len(b)) + b

    m = decode_wav(wav(7, bytes([0xFF, 0x7F, 0x00, 0x80])))
    assert list(m.samples) == [0, 0, -32124, 32124]  # µ-law anchors
    assert m.sample_rate == 8000
    m = decode_wav(wav(6, bytes([0xD5, 0x55, 0x2A, 0xAA])))
    assert list(m.samples) == [8, -8, -32256, 32256]  # A-law anchors
    # stereo / odd bit depths still reject
    f = _s.pack("<HHIIHH", 7, 2, 8000, 16000, 2, 8)
    bad = (b"RIFF" + _s.pack("<I", 20 + len(f))
           + b"WAVE" + b"fmt " + _s.pack("<I", len(f)) + f)
    with pytest.raises(MediaDecodeError, match="ch=2"):
        decode_wav(bad)
    f = _s.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float PCM
    bad = (b"RIFF" + _s.pack("<I", 20 + len(f))
           + b"WAVE" + b"fmt " + _s.pack("<I", len(f)) + f)
    with pytest.raises(MediaDecodeError, match="fmt=3"):
        decode_wav(bad)
