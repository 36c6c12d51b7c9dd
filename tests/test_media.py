"""Pure-stdlib media codecs (kernel/media.py) + the real-decode path of
operators/multimodal.media_features."""

import struct
import zlib

import numpy as np
import pytest

from document_ai_spark.kernel.media import (
    PNG_MAGIC,
    audio_features,
    decode_bmp,
    decode_png,
    decode_jpeg,
    decode_wav,
    encode_bmp,
    encode_jpeg,
    encode_jpeg_420,
    encode_jpeg_progressive,
    encode_jpeg_progressive_420,
    encode_png,
    encode_png_adam7,
    encode_wav,
    image_features,
    sniff_media,
)


def _grad(h=12, w=17):
    return np.add.outer(np.arange(h) * 13, np.arange(w) * 7).astype(np.uint8)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png(width, height, color_type, channels, rows_filtered: bytes, extra=b"") -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + extra
        + _chunk(b"IDAT", zlib.compress(rows_filtered, 6))
        + _chunk(b"IEND", b"")
    )


def test_sniff():
    assert sniff_media(encode_png(_grad())) == "png"
    assert sniff_media(encode_bmp(_grad())) == "bmp"
    assert sniff_media(encode_wav(np.zeros(10, dtype=np.int16))) == "wav"
    assert sniff_media(b"\xff\xd8\xff\xe0jpeg-ish") == "jpeg"
    assert sniff_media(encode_jpeg(_grad())) == "jpeg"
    assert sniff_media(b"GIF89a....") == "gif"
    assert sniff_media(b"RIFFxxxxWEBP") == "webp"  # round 5: real decoder


def test_png_roundtrip_gray():
    img = _grad()
    w, h, gray = decode_png(encode_png(img))
    assert (w, h) == (17, 12)
    assert np.array_equal(gray, img)


def _forward_filter(img: np.ndarray, ftype: int, bpp: int = 1) -> bytes:
    """Apply a PNG filter forward (encoder side) to build test vectors."""
    h, w = img.shape
    out = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        row = img[y].astype(np.int16)
        enc = bytearray([ftype])
        for i in range(w):
            left = int(row[i - 1]) if i >= 1 else 0
            up = int(prev[i])
            ul = int(prev[i - 1]) if (y > 0 and i >= 1) else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up if y > 0 else 0
            elif ftype == 3:
                pred = ((left + (up if y > 0 else 0)) >> 1)
            else:  # 4
                a, b, c = left, (up if y > 0 else 0), ul
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((int(row[i]) - pred) & 0xFF)
        out += enc
        prev = row
    return bytes(out)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_filters_decode_identically(ftype):
    img = _grad(9, 11)
    payload = _png(11, 9, 0, 1, _forward_filter(img, ftype))
    w, h, gray = decode_png(payload)
    assert np.array_equal(gray, img), f"filter {ftype}"


def test_png_rgb_and_rgba_luminance():
    h, w = 5, 6
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = 200  # red plane
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    _, _, gray = decode_png(_png(w, h, 2, 3, raw))
    assert int(gray[0, 0]) == (200 * 299) // 1000
    rgba = np.dstack([rgb, np.full((h, w), 128, np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    _, _, gray2 = decode_png(_png(w, h, 6, 4, raw))
    assert np.array_equal(gray, gray2)  # alpha ignored for luminance


def test_png_palette():
    pal = bytes([255, 0, 0, 0, 255, 0])  # idx0 red, idx1 green
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    payload = _png(2, 2, 3, 1, raw, extra=_chunk(b"PLTE", pal))
    _, _, gray = decode_png(payload)
    assert int(gray[0, 0]) == (255 * 299) // 1000
    assert int(gray[0, 1]) == (255 * 587) // 1000


def test_png_rejects_unsupported_and_garbage():
    img = _grad(4, 4)
    # interlace method 1 (Adam7) is SUPPORTED; a hand-built all-zero one
    # decodes to black, and an undefined method id still rejects
    interlaced = PNG_MAGIC + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    ) + _chunk(b"IDAT", zlib.compress(b"\x00" * 23)) + _chunk(b"IEND", b"")
    w, h, gray = decode_png(interlaced)
    assert (w, h) == (4, 4) and not gray.any()
    bogus = PNG_MAGIC + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
    ) + _chunk(b"IDAT", zlib.compress(b"\x00" * 20)) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bogus)
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # truncated IDAT -> zlib/ValueError, never a hang
    good = encode_png(img)
    with pytest.raises(Exception):
        decode_png(good[: len(good) - 30] + b"\x00" * 4)


def test_bmp_roundtrip_and_padding():
    img = _grad(5, 5)  # width 5 -> 15-byte rows padded to 16
    w, h, gray = decode_bmp(encode_bmp(img))
    assert (w, h) == (5, 5)
    assert np.array_equal(gray, img)


def test_wav_roundtrip_duration_and_features():
    t = np.arange(1600)
    samples = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    payload = encode_wav(samples, rate=16000)
    n, rate, back = decode_wav(payload)
    assert (n, rate) == (1600, 16000)
    assert np.array_equal(back, samples)
    feats = audio_features(back)
    assert len(feats) == 16 and feats[8] > 0.1  # rms of a loud sine


def test_png_zlib_bomb_is_bounded():
    # declared dims 2x2 but an IDAT inflating to ~64MB: the bounded
    # decompressobj must stop at the header's claim (6 bytes here) — the
    # decode yields the declared 2x2 image without ever materializing the
    # bomb's full output
    import resource

    bomb = zlib.compress(b"\x00" * 64_000_000, 9)
    payload = (
        _png(2, 2, 0, 1, b"")[: 8 + 25] + _chunk(b"IDAT", bomb) + _chunk(b"IEND", b"")
    )
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    w, h, gray = decode_png(payload)
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert (w, h) == (2, 2) and gray.shape == (2, 2)
    assert (after - before) < 50_000  # KB: no 64MB materialization


def test_decoders_raise_only_valueerror():
    # total-with-ValueError contract: struct/zlib/wave errors all convert
    short_ihdr = PNG_MAGIC + _chunk(b"IHDR", b"\x00\x01") + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(short_ihdr)
    good = encode_png(_grad())
    with pytest.raises(ValueError):
        decode_png(good[:-40] + b"\x00" * 8)  # truncated IDAT -> zlib error
    with pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x01" * 60)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunkjunk")


def test_png_adam7_roundtrip_identical():
    # interlacing is a pure byte permutation under filter 0: the Adam7
    # twin must decode to EXACTLY the source pixels, like the flat twin
    for h, w in ((12, 17), (1, 1), (3, 2), (8, 8), (9, 10)):
        img = _grad(h, w)
        payload = encode_png_adam7(img)
        gw, gh, gray = decode_png(payload)
        assert (gw, gh) == (w, h)
        assert np.array_equal(gray, img)
        # and agrees with the non-interlaced encoding of the same pixels
        assert np.array_equal(gray, decode_png(encode_png(img))[2])


def test_png_adam7_wrong_interlace_method_rejected():
    payload = bytearray(encode_png_adam7(_grad()))
    # IHDR interlace byte is the 13th data byte: 8(sig)+8(len+type)+12
    payload[16 + 12] = 2  # not a defined interlace method
    with pytest.raises(ValueError):
        decode_png(bytes(payload))


def test_jpeg_roundtrip_gray_close():
    # JPEG is lossy; at q95 a smooth gradient must come back within a few
    # quantization levels, with exact dimensions (odd sizes -> block pad)
    img = _grad(13, 21)
    payload = encode_jpeg(img, quality=95)
    w, h, gray = decode_jpeg(payload)
    assert (w, h) == (21, 13) and gray.shape == (13, 21)
    err = np.abs(gray.astype(np.int64) - img.astype(np.int64))
    assert err.max() <= 8 and err.mean() < 3.0


def test_jpeg_determinism_and_quality_monotone():
    img = _grad(16, 16)
    assert encode_jpeg(img, 85) == encode_jpeg(img, 85)  # byte-determinism
    lo = np.abs(decode_jpeg(encode_jpeg(img, 30))[2].astype(int) - img.astype(int))
    hi = np.abs(decode_jpeg(encode_jpeg(img, 95))[2].astype(int) - img.astype(int))
    assert hi.mean() <= lo.mean()  # higher quality -> no worse reconstruction


def test_jpeg_420_container_matches_grayscale():
    # same pixels through the 3-component 4:2:0 MCU-interleaved container
    # (16x16 MCUs, neutral chroma) decode to the same luminance plane as
    # the 1-component encoding — the chroma blocks only advance the stream
    img = _grad(19, 23)  # odd dims: MCU padding on both axes
    w1, h1, g1 = decode_jpeg(encode_jpeg(img, quality=90))
    w3, h3, g3 = decode_jpeg(encode_jpeg_420(img, quality=90))
    assert (w1, h1) == (w3, h3) == (23, 19)
    assert np.array_equal(g1, g3)


def test_jpeg_restart_interval_identical_pixels():
    # DRI changes entropy framing (RSTn + predictor resets) but not the
    # dequantized coefficients -> decoded array must be EXACTLY equal
    img = _grad(33, 40)  # 3x3 MCU grid: restarts fire mid-row and mid-column
    base = decode_jpeg(encode_jpeg_420(img, quality=85, restart_interval=0))[2]
    for ri in (1, 2, 5):
        got = decode_jpeg(encode_jpeg_420(img, quality=85, restart_interval=ri))[2]
        assert np.array_equal(base, got)


def test_jpeg_rejects_lossless_and_truncated():
    img = _grad(8, 8)
    payload = bytearray(encode_jpeg(img))
    sof = payload.find(b"\xff\xc0")
    payload[sof + 1] = 0xC3  # masquerade as lossless (out of scope)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(payload))
    good = encode_jpeg(img)
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated entropy stream
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0nonsense")


def test_jpeg_mutation_totality():
    # total-with-ValueError: byte-flip every position of a small payload;
    # decode either succeeds or raises exactly ValueError — never crashes
    payload = bytearray(encode_jpeg(_grad(9, 9), quality=70))
    for i in range(len(payload)):
        mutated = bytes(payload[:i]) + bytes((payload[i] ^ 0x5A,)) + bytes(payload[i + 1 :])
        try:
            w, h, gray = decode_jpeg(mutated)
            assert gray.dtype == np.uint8 and gray.shape == (h, w)
        except ValueError:
            pass


def test_oversize_dimensions_rejected():
    ihdr = struct.pack(">IIBBBBB", 8000, 8000, 8, 6, 0, 0, 0)  # 64M px RGBA
    payload = PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(
        b"IDAT", zlib.compress(b"\x00" * 100)
    ) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(payload)  # above the sampled-media pixel cap


def test_one_sample_wav_has_no_nan_features():
    payload = encode_wav(np.array([1234], dtype=np.int16), rate=8000)
    n, rate, samples = decode_wav(payload)
    feats = audio_features(samples)
    assert len(feats) == 16
    assert all(f == f for f in feats)  # no NaN (NaN != NaN)


def test_image_features_shape_and_mass():
    feats = image_features(_grad())
    assert len(feats) == 16
    assert abs(sum(feats) - 1.0) < 1e-5


def test_media_features_real_decode_path(spark):
    from document_ai_spark.operators.multimodal import media_features

    img = _grad(8, 10)
    wav = (np.ones(800) * 5000).astype(np.int16)
    rows = [
        (1, bytearray(encode_png(img))),
        (2, bytearray(encode_bmp(img))),
        (3, bytearray(encode_wav(wav, rate=8000))),
        (4, bytearray(b"\xff\xd8\xffjpeg-truncated-garbage")),
        (5, bytearray(PNG_MAGIC + b"corrupt")),
        (6, bytearray(encode_jpeg(img, quality=95))),
        (7, bytearray(encode_jpeg_420(img, quality=95))),
        (8, bytearray(b"RIFFxxxxWEBPno codec here")),
        (9, None),  # placeholder replaced below: real lossless webp
        (10, None),  # lossy VP8 shell: true dims, null features
    ]
    from document_ai_spark.kernel.media import encode_webp_vp8_shell, encode_webp_vp8l

    rows[8] = (9, bytearray(encode_webp_vp8l(img)))
    rows[9] = (10, bytearray(encode_webp_vp8_shell(10, 8)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in media_features(df, decode_stub=False).collect()}
    assert got[1].media_type == "png" and (got[1].width, got[1].height) == (10, 8)
    assert got[2].media_type == "bmp" and (got[2].width, got[2].height) == (10, 8)
    assert got[3].media_type == "wav" and got[3].duration_ms == 100
    assert got[3].features is not None and len(got[3].features) == 16
    # png and bmp of the SAME image agree on luminance features
    assert got[1].features == got[2].features
    # real JPEG decodes in BOTH container shapes with true dimensions
    assert got[6].media_type == "jpeg" and (got[6].width, got[6].height) == (10, 8)
    assert got[7].media_type == "jpeg" and (got[7].width, got[7].height) == (10, 8)
    assert got[6].features is not None and len(got[6].features) == 16
    # unknown codec + corrupt payloads isolate to null-feature rows
    assert got[4].media_type == "jpeg" and got[4].features is None
    assert got[5].media_type == "png" and got[5].features is None
    assert got[8].media_type == "webp" and got[8].features is None  # corrupt container
    # real lossless webp: full decode, features match the png of the SAME image
    assert got[9].media_type == "webp" and (got[9].width, got[9].height) == (10, 8)
    assert got[9].features == got[1].features
    # lossy VP8 shell: true header dims, features behind the codec seam
    assert got[10].media_type == "webp" and (got[10].width, got[10].height) == (10, 8)
    assert got[10].features is None


def test_jpeg_progressive_equals_baseline_pixels():
    # progressive (SOF2) and baseline encoders share quantization: the
    # six-scan spectral-selection + successive-approximation script must
    # reconstruct the EXACT same pixels, both container shapes
    for h, w in ((12, 17), (1, 2), (8, 8), (33, 40)):
        img = _grad(h, w)
        for q in (30, 85, 95):
            b = decode_jpeg(encode_jpeg(img, q))[2]
            p = decode_jpeg(encode_jpeg_progressive(img, q))[2]
            assert np.array_equal(b, p), (h, w, q)
            b4 = decode_jpeg(encode_jpeg_420(img, q))[2]
            p4 = decode_jpeg(encode_jpeg_progressive_420(img, q))[2]
            assert np.array_equal(b4, p4), (h, w, q)


def test_jpeg_progressive_flat_image_eob_runs():
    # a flat image makes every AC band empty: the whole scan is one
    # cross-block EOB run — the multi-block EOBRUN decode path
    img = np.full((40, 48), 77, np.uint8)
    w, h, gray = decode_jpeg(encode_jpeg_progressive(img, 85))
    assert (w, h) == (48, 40)
    assert np.array_equal(gray, decode_jpeg(encode_jpeg(img, 85))[2])


def test_jpeg_progressive_noise_fuzz():
    rng = np.random.RandomState(11)
    for _ in range(15):
        h, w = rng.randint(1, 50), rng.randint(1, 50)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        q = int(rng.choice([20, 60, 95]))
        assert np.array_equal(
            decode_jpeg(encode_jpeg(img, q))[2],
            decode_jpeg(encode_jpeg_progressive(img, q))[2],
        )
        assert np.array_equal(
            decode_jpeg(encode_jpeg_420(img, q))[2],
            decode_jpeg(encode_jpeg_progressive_420(img, q))[2],
        )


def test_jpeg_progressive_mutation_totality():
    payload = bytearray(encode_jpeg_progressive(_grad(9, 9), quality=70))
    for i in range(len(payload)):
        mutated = bytes(payload[:i]) + bytes((payload[i] ^ 0xA5,)) + bytes(payload[i + 1 :])
        try:
            w, h, gray = decode_jpeg(mutated)
            assert gray.dtype == np.uint8 and gray.shape == (h, w)
        except ValueError:
            pass


def test_media_features_decodes_progressive(spark):
    from document_ai_spark.operators.multimodal import media_features

    img = _grad(8, 10)
    rows = [
        (1, bytearray(encode_jpeg_progressive(img, 90))),
        (2, bytearray(encode_jpeg_progressive_420(img, 90))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in media_features(df, decode_stub=False).collect()}
    for mid in (1, 2):
        assert got[mid].media_type == "jpeg"
        assert (got[mid].width, got[mid].height) == (10, 8)
        assert got[mid].features is not None and len(got[mid].features) == 16


def test_jpeg_progressive_scan_budget():
    # review regression: a crafted SOF2 payload with thousands of tiny
    # scans is the CPU analog of a zlib bomb — the decoder must isolate
    # it (ValueError) instead of chewing O(blocks) Python work per scan
    payload = bytearray(encode_jpeg_progressive(_grad(16, 16), 85))
    eoi = bytes(payload[-2:])
    assert eoi == b"\xff\xd9"
    body = bytes(payload[:-2])
    # clone one tiny AC scan many times (valid SOS headers, junk entropy)
    sos_at = body.rfind(b"\xff\xda")
    one_scan = body[sos_at:]
    bomb = body + one_scan * 200 + eoi
    with pytest.raises(ValueError):
        decode_jpeg(bomb)


def test_ann_and_sessionize_empty_input_guards(spark, tmp_path):
    # an empty table trains no centroids; that and an empty centroid
    # list each raise a labelled error before anything is written
    import pytest as _pytest

    from document_ai_spark.operators.ann_index import build_ann_index
    from document_ai_spark.sources.catalog import Catalog

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cat = Catalog(spark, str(tmp_path))
    for kw in ({"n_clusters": 4}, {"centroids": []}):
        with _pytest.raises(ValueError, match="no centroids for 't'"):
            build_ann_index(empty, cat, "t", **kw)
        assert not cat.exists("t") and not cat.exists("t__meta")


def test_gif_roundtrip_and_interlace():
    from document_ai_spark.kernel.media import decode_gif, encode_gif

    for h, w in ((12, 17), (1, 1), (9, 5), (40, 33)):
        img = _grad(h, w)
        for il in (False, True):
            gw, gh, gray = decode_gif(encode_gif(img, interlace=il))
            assert (gw, gh) == (w, h)
            assert np.array_equal(gray, img)  # ramp palette: lossless


def test_gif_first_frame_of_animation_and_extensions():
    import struct as _s

    from document_ai_spark.kernel.media import decode_gif, encode_gif

    img1, img2 = _grad(6, 8), (_grad(6, 8) + 100).astype(np.uint8)
    a, b = encode_gif(img1), encode_gif(img2)
    # splice: header+GCT of a, a graphic-control extension, frame 1 of a,
    # frame of b, trailer — decoder must return FRAME 1 and skip the ext
    head_end = 13 + 768  # header + 256-entry GCT
    gce = bytes((0x21, 0xF9, 4, 0, 0, 0, 0, 0))  # ext + 4-byte block + term
    animated = (
        a[:head_end] + gce + a[head_end:-1] + b[head_end:-1] + b"\x3b"
    )
    gw, gh, gray = decode_gif(animated)
    assert (gw, gh) == (8, 6)
    assert np.array_equal(gray, img1)


def test_gif_offset_frame_composes_on_background():
    import struct as _s

    from document_ai_spark.kernel.media import decode_gif

    # hand-built: 6x4 screen, bg index 200, 2x2 frame at (3,1) of index 9
    from document_ai_spark.kernel.gif import _lzw_encode_gif

    out = bytearray(b"GIF89a") + _s.pack("<HH", 6, 4) + bytes((0x87, 200, 0))
    for i in range(256):
        out += bytes((i, i, i))
    out += bytes((0x2C,)) + _s.pack("<HHHH", 3, 1, 2, 2) + bytes((0,))
    lzw = _lzw_encode_gif(bytes([9, 9, 9, 9]), 8)
    out += bytes((8, len(lzw))) + lzw + bytes((0, 0x3B))
    gw, gh, gray = decode_gif(bytes(out))
    assert (gw, gh) == (6, 4)
    assert gray[0, 0] == 200 and gray[1, 3] == 9 and gray[2, 4] == 9
    assert gray[3, 5] == 200


def test_gif_rejects_garbage_and_mutation_totality():
    from document_ai_spark.kernel.media import decode_gif, encode_gif

    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")
    payload = bytearray(encode_gif(_grad(7, 9)))
    for i in range(0, len(payload), 3):  # every 3rd byte: keep it quick
        mutated = bytes(payload[:i]) + bytes((payload[i] ^ 0x3C,)) + bytes(payload[i + 1 :])
        try:
            w, h, gray = decode_gif(mutated)
            assert gray.dtype == np.uint8 and gray.shape == (h, w)
        except ValueError:
            pass


def test_media_features_decodes_gif(spark):
    from document_ai_spark.kernel.media import encode_gif
    from document_ai_spark.operators.multimodal import media_features

    img = _grad(8, 10)
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(img))), (2, bytearray(encode_gif(img, interlace=True)))],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in media_features(df, decode_stub=False).collect()}
    for mid in (1, 2):
        assert got[mid].media_type == "gif"
        assert (got[mid].width, got[mid].height) == (10, 8)
        assert got[mid].features is not None and len(got[mid].features) == 16
    # gif of the SAME pixels agrees with png features (both lossless)
    from document_ai_spark.kernel.media import encode_png

    df2 = spark.createDataFrame([(3, bytearray(encode_png(img)))], "media_id long, payload binary")
    png_feats = media_features(df2, decode_stub=False).collect()[0].features
    assert got[1].features == png_feats


def test_mp4_probe_roundtrip_and_rejection():
    from document_ai_spark.kernel.media import encode_mp4_shell, probe_mp4

    assert probe_mp4(encode_mp4_shell(640, 360, 12345)) == (640, 360, 12345)
    assert probe_mp4(encode_mp4_shell(1, 1, 0)) == (1, 1, 0)
    assert sniff_media(encode_mp4_shell(4, 2, 7)) == "mp4"
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\x08ftyp")  # no moov
    with pytest.raises(ValueError):
        probe_mp4(b"not an mp4 at all!!")
    # bad box size must not loop/overread
    payload = bytearray(encode_mp4_shell(8, 8, 100))
    payload[0:4] = (3).to_bytes(4, "big")  # size < header
    with pytest.raises(ValueError):
        probe_mp4(bytes(payload))


def test_mp4_probe_mutation_totality():
    from document_ai_spark.kernel.media import encode_mp4_shell, probe_mp4

    payload = bytearray(encode_mp4_shell(320, 180, 555))
    for i in range(len(payload)):
        mutated = bytes(payload[:i]) + bytes((payload[i] ^ 0x81,)) + bytes(payload[i + 1 :])
        try:
            w, h, d = probe_mp4(mutated)
            assert w >= 0 and h >= 0 and d >= 0
        except ValueError:
            pass


def test_media_features_probes_mp4(spark):
    from document_ai_spark.kernel.media import encode_mp4_shell
    from document_ai_spark.operators.multimodal import media_features

    df = spark.createDataFrame(
        [(1, bytearray(encode_mp4_shell(640, 360, 9000)))],
        "media_id long, payload binary",
    )
    r = media_features(df, decode_stub=False).collect()[0]
    assert r.media_type == "mp4"
    assert (r.width, r.height, r.duration_ms) == (640, 360, 9000)
    assert r.features is None  # frame decode = the external-codec seam


# ---------------------------------------------------------------------------
# WebP (kernel/webp.py, RFC 9649)


def test_webp_vp8l_round_trip_all_encoder_paths():
    from document_ai_spark.kernel import webp

    img = np.add.outer(np.arange(23) * 3, np.arange(41) * 5).astype(np.uint8)
    for kwargs in (
        dict(),                              # subtract-green + literals
        dict(cache_bits=4),                  # color cache
        dict(rle=True),                      # LZ77 distance-1 runs
        dict(cache_bits=3, rle=True),        # cache + LZ77 interplay
        dict(meta_bits=2),                   # meta prefix entropy image
    ):
        w, h, gray = webp.decode_webp(webp.encode_webp_vp8l(img, **kwargs))
        assert (w, h) == (41, 23) and np.array_equal(gray, img), kwargs


def test_webp_vp8l_palette_bundling_all_depths():
    from document_ai_spark.kernel import webp

    rng = np.random.RandomState(3)
    for nv in (2, 3, 4, 9, 16):  # xbits 3 / 2 / 2 / 1 / 1
        img = (rng.randint(0, nv, size=(11, 19)) * (255 // max(1, nv - 1))).astype(np.uint8)
        w, h, gray = webp.decode_webp(webp.encode_webp_vp8l(img, palette=True))
        assert np.array_equal(gray, img), nv


def test_webp_vp8l_single_value_and_1x1():
    from document_ai_spark.kernel import webp

    flat = np.full((9, 13), 77, dtype=np.uint8)
    for kwargs in (dict(), dict(rle=True), dict(palette=True)):
        assert np.array_equal(webp.decode_webp(webp.encode_webp_vp8l(flat, **kwargs))[2], flat)
    one = np.array([[201]], dtype=np.uint8)
    assert np.array_equal(webp.decode_webp(webp.encode_webp_vp8l(one))[2], one)


def _vp8l_with_transform(img_argb, w, h, ttype, bits, tdata, residual):
    """Hand-assemble a VP8L stream carrying one predictor/color transform
    (the encoder never emits those two — this pins the DECODER against
    independently computed forward transforms)."""
    from document_ai_spark.kernel.webp import _BitWriter, _encode_entropy_image

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)          # transform present
    bw.write(ttype, 2)      # 0 = predictor, 1 = color
    bw.write(bits - 2, 3)
    sw = (w + (1 << bits) - 1) >> bits
    sh = (h + (1 << bits) - 1) >> bits
    _encode_entropy_image(bw, np.asarray(tdata, dtype=np.uint32).reshape(-1), sw, sh, sub=True)
    bw.write(0, 1)          # end of transforms
    _encode_entropy_image(bw, np.asarray(residual, dtype=np.uint32).reshape(-1), w, h)
    data = bw.bytes()
    riff = b"VP8L" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        riff += b"\x00"
    return b"RIFF" + (4 + len(riff)).to_bytes(4, "little") + b"WEBP" + riff


def _argb_gray(img):
    return (0xFF000000 | (img.astype(np.uint32) * 0x010101)).reshape(-1)


def test_webp_vp8l_predictor_transform_decode():
    """Forward-filter with predictor modes computed here (mode 1 = left,
    mode 2 = top per 4x4 block), decode must reconstruct the original."""
    from document_ai_spark.kernel import webp

    h, w, bits = 8, 12, 2
    img = np.add.outer(np.arange(h) * 11, np.arange(w) * 7).astype(np.uint8)
    argb = _argb_gray(img)
    sw = (w + 3) >> 2
    sh = (h + 3) >> 2
    modes = [[1 if (bx + by) % 2 == 0 else 2 for bx in range(sw)] for by in range(sh)]
    tdata = [0xFF000000 | (modes[by][bx] << 8) for by in range(sh) for bx in range(sw)]

    def chans(p):
        return np.array([(p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF], dtype=np.int64)

    def pack(c):
        c = [int(x) & 0xFF for x in c]
        return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]

    residual = np.zeros(w * h, dtype=np.uint32)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if x == 0 and y == 0:
            pred = np.array([0xFF, 0, 0, 0], dtype=np.int64)
        elif y == 0:
            pred = chans(int(argb[pos - 1]))
        elif x == 0:
            pred = chans(int(argb[pos - w]))
        else:
            mode = modes[y >> bits][x >> bits]
            pred = chans(int(argb[pos - 1])) if mode == 1 else chans(int(argb[pos - w]))
        residual[pos] = pack(chans(int(argb[pos])) - pred)

    data = _vp8l_with_transform(argb, w, h, 0, bits, tdata, residual)
    W, H, gray = webp.decode_webp(data)
    assert (W, H) == (w, h)
    assert np.array_equal(gray, img)


def test_webp_vp8l_color_transform_decode():
    """Forward color transform (red -= delta(g2r, green); blue -=
    delta(g2b, green) + delta(r2b, red)), decode must invert it."""
    from document_ai_spark.kernel import webp
    from document_ai_spark.kernel.webp import _ctd

    h, w, bits = 6, 9, 3
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
    argb = _argb_gray(img)
    g2r, g2b, r2b = 0x20, 0xE8, 0x05  # mixed-sign int8 deltas
    cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    residual = np.zeros(w * h, dtype=np.uint32)
    for pos in range(w * h):
        px = int(argb[pos])
        a = (px >> 24) & 0xFF
        red = (px >> 16) & 0xFF
        green = (px >> 8) & 0xFF
        blue = px & 0xFF
        nr = (red - _ctd(g2r, green)) & 0xFF
        nb = (blue - _ctd(g2b, green) - _ctd(r2b, red)) & 0xFF
        residual[pos] = (a << 24) | (nr << 16) | (green << 8) | nb
    data = _vp8l_with_transform(argb, w, h, 1, bits, [cte] * 2, residual)
    W, H, gray = webp.decode_webp(data)
    # source pixels are pure gray (r=g=b=v), so BT.601 luma == v exactly
    assert np.array_equal(gray, img)


def test_webp_probe_lossy_and_extended():
    from document_ai_spark.kernel import webp

    shell = webp.encode_webp_vp8_shell(640, 360)
    assert webp.probe_webp(shell) == (640, 360, "lossy")
    with pytest.raises(ValueError, match="lossy"):
        webp.decode_webp(shell)
    # VP8X extended container: canvas dims in 24-bit fields
    body = bytes(4) + (639).to_bytes(3, "little") + (359).to_bytes(3, "little")
    chunk = b"VP8X" + len(body).to_bytes(4, "little") + body
    vp8x = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    assert webp.probe_webp(vp8x) == (640, 360, "extended")


def test_webp_sniff_and_multimodal_dispatch():
    from document_ai_spark.kernel import webp

    img = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8)
    data = webp.encode_webp_vp8l(img)
    assert sniff_media(data) == "webp"
    assert sniff_media(b"RIFF\x00\x00\x00\x00WAVE") == "wav"  # RIFF split intact
    # truncated/corrupt webp isolates, never raises out of the batch
    with pytest.raises(ValueError):
        webp.decode_webp(data[:20])


def test_webp_deterministic_bytes():
    from document_ai_spark.kernel import webp

    img = np.add.outer(np.arange(10) * 5, np.arange(14) * 3).astype(np.uint8)
    assert webp.encode_webp_vp8l(img, cache_bits=3, rle=True) == webp.encode_webp_vp8l(
        img, cache_bits=3, rle=True
    )


def test_unfilter_vectorized_sub_matches_per_byte_reference():
    """The Sub filter is a per-lane prefix sum (numpy cumsum) since round
    5; pin byte-equality against a straight per-byte implementation of
    the PNG spec across random rows mixing all five filters."""
    from document_ai_spark.kernel.media import _unfilter

    def ref(raw, width, height, bpp):
        stride = width * bpp
        out = bytearray(height * stride)
        pos = 0

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        for y in range(height):
            ft = raw[pos]
            pos += 1
            line = raw[pos : pos + stride]
            pos += stride
            o = y * stride
            po = o - stride
            for i in range(stride):
                left = out[o + i - bpp] if i >= bpp else 0
                up = out[po + i] if y > 0 else 0
                ul = out[po + i - bpp] if (y > 0 and i >= bpp) else 0
                v = line[i]
                if ft == 1:
                    v += left
                elif ft == 2:
                    v += up
                elif ft == 3:
                    v += (left + up) >> 1
                elif ft == 4:
                    v += paeth(left, up, ul)
                out[o + i] = v & 0xFF
        return out

    rng = np.random.RandomState(5)
    for _ in range(15):
        w = int(rng.randint(1, 40))
        h = int(rng.randint(1, 30))
        bpp = int(rng.choice([1, 2, 3, 4]))
        raw = bytearray()
        for _y in range(h):
            raw.append(int(rng.randint(0, 5)))
            raw += bytes(rng.randint(0, 256, size=w * bpp, dtype=np.uint8))
        assert bytes(_unfilter(bytes(raw), w, h, bpp)) == bytes(ref(bytes(raw), w, h, bpp))


def test_webp_vp8l_predictor_all_modes_decode():
    """All 14 predictor modes, forward-filtered by an INDEPENDENT
    reference (plain-int, C-truncation semantics for mode 13), on random
    gray pixels — the decoder must reconstruct exactly. Catches the
    floor-vs-trunc divergence in ClampAddSubtractHalf (review find)."""
    from document_ai_spark.kernel import webp

    rng = np.random.RandomState(21)
    h, w, bits = 8, 16, 2  # 4x4 blocks -> 4x2 mode grid = 8 blocks
    sw, sh = (w + 3) >> 2, (h + 3) >> 2

    def ch(p, s):
        return (p >> s) & 0xFF

    def avg2(a, b):
        return tuple((ch(a, s) + ch(b, s)) >> 1 for s in (24, 16, 8, 0)), None

    def pk(t):
        return (t[0] << 24) | (t[1] << 16) | (t[2] << 8) | t[3]

    def pack_avg2(a, b):
        return pk(avg2(a, b)[0])

    def predict(mode, L, T, TL, TR):
        if mode == 0:
            return 0xFF000000
        if mode == 1:
            return L
        if mode == 2:
            return T
        if mode == 3:
            return TR
        if mode == 4:
            return TL
        if mode == 5:
            return pack_avg2(pack_avg2(L, TR), T)
        if mode == 6:
            return pack_avg2(L, TL)
        if mode == 7:
            return pack_avg2(L, T)
        if mode == 8:
            return pack_avg2(TL, T)
        if mode == 9:
            return pack_avg2(T, TR)
        if mode == 10:
            return pack_avg2(pack_avg2(L, TL), pack_avg2(T, TR))
        if mode == 11:
            pL = sum(abs(ch(L, s) + ch(T, s) - ch(TL, s) - ch(L, s)) for s in (24, 16, 8, 0))
            pT = sum(abs(ch(L, s) + ch(T, s) - ch(TL, s) - ch(T, s)) for s in (24, 16, 8, 0))
            return L if pL < pT else T
        if mode == 12:
            return pk(tuple(
                max(0, min(255, ch(L, s) + ch(T, s) - ch(TL, s))) for s in (24, 16, 8, 0)
            ))
        # mode 13: a + trunc((a - TL)/2), C truncation toward zero
        a = pack_avg2(L, T)
        out = []
        for s in (24, 16, 8, 0):
            d = ch(a, s) - ch(TL, s)
            t = d // 2 if d >= 0 else -((-d) // 2)
            out.append(max(0, min(255, ch(a, s) + t)))
        return pk(tuple(out))

    for trial in range(6):
        img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        argb = _argb_gray(img)
        mode_grid = [int(rng.randint(0, 14)) for _ in range(sw * sh)]
        if trial == 0:
            mode_grid = [13] * (sw * sh)  # force the trunc-sensitive mode
        tdata = [0xFF000000 | (m << 8) for m in mode_grid]
        residual = np.zeros(w * h, dtype=np.uint32)
        for pos in range(w * h):
            x, y = pos % w, pos // w
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(argb[pos - 1])
            elif x == 0:
                pred = int(argb[pos - w])
            else:
                pred = predict(
                    mode_grid[(y >> bits) * sw + (x >> bits)],
                    int(argb[pos - 1]), int(argb[pos - w]),
                    int(argb[pos - w - 1]), int(argb[pos - w + 1]),
                )
            # per-channel mod-256 subtraction (packed-lane subtraction
            # would borrow across byte lanes in unbounded Python ints)
            residual[pos] = sum(
                ((ch(int(argb[pos]), s) - ch(pred, s)) & 0xFF) << s
                for s in (24, 16, 8, 0)
            )
        data = _vp8l_with_transform(argb, w, h, 0, bits, tdata, residual)
        W, H, gray = webp.decode_webp(data)
        assert np.array_equal(gray, img), f"trial {trial}"


def test_webp_transform_budget_isolates_oversize():
    """A predictor-transform image above the 4 Mpx pure-Python budget
    raises ValueError (null-feature isolation), never a multi-minute
    loop."""
    from document_ai_spark.kernel.webp import _inv_predictor

    with pytest.raises(ValueError, match="budget"):
        _inv_predictor(np.zeros(1, np.uint32), 4096, 4096, 4, np.zeros(1, np.uint32))
