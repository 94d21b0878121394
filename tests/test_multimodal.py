"""Multimodal plumbing: binary columns through mapInPandas with typed
metadata; stubbed codec determinism; real-codec seam raises."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentimes_spark.operators.multimodal import (
    decode_image,
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from opentimes_spark.session import ship_package


@pytest.fixture(scope="module")
def media(spark):
    ship_package(spark)
    return synthesize_media(spark, n=30)


def test_decode_image_metadata(spark, media):
    out = decode_image(media)
    rows = out.collect()
    assert len(rows) == 10  # 30 media / 3 kinds
    for r in rows:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert r["n_bytes"] == 256 and len(r["checksum"]) == 32


def test_decode_deterministic(spark, media):
    a = {r["media_id"]: (r["width"], r["checksum"]) for r in decode_image(media).collect()}
    b = {r["media_id"]: (r["width"], r["checksum"]) for r in decode_image(media).collect()}
    assert a == b


def test_real_codec_seam_raises_on_compressed_without_pillow(media):
    """'real' degrades to the native codecs in a Pillow-less container —
    a JPEG payload (no native JPEG codec) hits the disclosed
    NotImplementedError."""
    import struct

    import opentimes_spark.operators.multimodal as mm

    arithmetic = b"\xff\xd8\xff\xcb" + struct.pack(">H", 8) + b"\x08\x00\x01\x00\x01\x01"
    mm._PIL_IMAGE = "unset"
    if mm._pillow() is None:
        with pytest.raises(NotImplementedError, match="Pillow"):
            mm._real_decode(arithmetic)


def test_pillow_seam_dispatch_both_ways(monkeypatch):
    """The seam itself, exercised in BOTH states inside this container:
    with an injected fake PIL module 'real' decodes through it; with the
    cache reset to import-failure it falls back to the numpy codecs."""
    import sys
    import types

    import numpy as np

    import opentimes_spark.operators.multimodal as mm

    decoded = np.zeros((4, 6, 3), dtype=np.uint8)

    class _FakeIm:
        def convert(self, mode):
            assert mode == "RGB"
            return decoded

    fake_image_mod = types.SimpleNamespace(open=lambda buf: _FakeIm())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)
    mm._PIL_IMAGE = "unset"
    try:
        out = mm._real_decode(b"\x89PNG anything: the fake handles it")
        assert out.shape == (4, 6, 3)  # went through the Pillow branch
    finally:
        mm._PIL_IMAGE = "unset"

    monkeypatch.delitem(sys.modules, "PIL")
    monkeypatch.delitem(sys.modules, "PIL.Image")
    mm._PIL_IMAGE = "unset"
    try:
        # fallback branch: numpy PPM decode still works without Pillow
        from opentimes_spark.operators.multimodal import encode_ppm

        img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        assert (mm._real_decode(encode_ppm(img)) == img).all()
    finally:
        mm._PIL_IMAGE = "unset"


def test_features_feed_similarity(spark, media):
    from opentimes_spark.operators.similarity import brute_force_topk

    emb = extract_features(media)
    assert dict(emb.dtypes)["embedding"] == "array<float>"
    topk = brute_force_topk(
        emb.filter(F.col("media_id") < 3), emb, k=2, id_col="media_id"
    )
    got = topk.collect()
    assert len(got) == 6  # 3 queries × 2 neighbors
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in got)


def test_frame_sample_plan(spark, media):
    plan = frame_sample_plan(media, every_n=10)
    rows = plan.collect()
    # videos have 256/8 = 32 frames → indices 0,10,20,30
    by_id: dict[int, list[int]] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 10, 20, 30] for v in by_id.values())
    assert len(by_id) == 10


def test_resize_images_bounds_payload(spark):
    from opentimes_spark.operators.multimodal import resize_images, synthesize_media

    media = synthesize_media(spark, n=24, payload_bytes=512)
    out = resize_images(media, target_w=8, target_h=8).collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(out) == n_images and n_images > 0
    assert all(r["n_bytes"] == 64 for r in out)
    assert all(r["width"] == 8 and r["height"] == 8 for r in out)
    # deterministic: same input → same resized payload
    again = resize_images(media, target_w=8, target_h=8).collect()
    assert {r["media_id"]: bytes(r["payload"]) for r in out} == {
        r["media_id"]: bytes(r["payload"]) for r in again
    }


def test_real_codec_end_to_end_on_uncompressed(spark):
    """codec='real' through the full Spark path: in this container the
    worker-side Pillow probe fails, so the numpy fallback decodes the
    PPM payloads — same rows as codec='numpy'."""
    import numpy as np

    from opentimes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_ppm,
        resize_images,
    )

    rows = []
    for i in range(4):
        rng = np.random.RandomState(i)
        img = rng.randint(0, 255, size=(10 + i, 20 + i, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(encode_ppm(img)), "image/x-ppm"))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    real = {r["media_id"]: (r["width"], r["height"]) for r in decode_image(media, codec="real").collect()}
    np_ = {r["media_id"]: (r["width"], r["height"]) for r in decode_image(media, codec="numpy").collect()}
    assert real == np_ == {i: (20 + i, 10 + i) for i in range(4)}
    resized = resize_images(media, target_w=5, target_h=4, codec="real").collect()
    assert {(r["width"], r["height"]) for r in resized} == {(5, 4)}
    assert all(bytes(r["payload"]).startswith(b"P6") for r in resized)


def test_numpy_codec_roundtrip_ppm_bmp():
    """Pure-numpy codecs: PPM encode/decode round-trips; BMP (24bpp,
    bottom-up, padded rows) decodes to the same pixels."""
    import numpy as np

    from opentimes_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)  # odd width → padding
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)

    # hand-build the BMP: 14+40 header, BGR rows bottom-up padded to 4
    h, w = img.shape[:2]
    row = (w * 3 + 3) & ~3
    pix = b"".join(
        img[y, :, ::-1].tobytes() + b"\0" * (row - w * 3)
        for y in range(h - 1, -1, -1)
    )
    header = (
        b"BM"
        + (54 + len(pix)).to_bytes(4, "little")
        + b"\0\0\0\0"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + b"\0" * 16
    )
    assert np.array_equal(decode_bmp(header + pix), img)


def test_decode_and_resize_numpy_codec(spark):
    """Real decode + real nearest-neighbor resize through the same
    mapInPandas plumbing, PPM payloads."""
    import numpy as np

    from opentimes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        decode_ppm,
        encode_ppm,
        resize_images,
    )

    rows = []
    for i in range(6):
        rng = np.random.RandomState(i)
        img = rng.randint(0, 256, (20 + i, 30 + i, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(encode_ppm(img)), "image/x-ppm"))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    meta = {r["media_id"]: (r["width"], r["height"])
            for r in decode_image(media, codec="numpy").collect()}
    assert meta[0] == (30, 20) and meta[5] == (35, 25)

    resized = resize_images(media, target_w=8, target_h=4, codec="numpy")
    out = resized.collect()
    assert len(out) == 6
    for r in out:
        img = decode_ppm(bytes(r["payload"]))
        assert img.shape == (4, 8, 3)
        assert r["width"] == 8 and r["height"] == 4


def test_numpy_codec_rejects_compressed():
    import struct

    import pytest as pt

    from opentimes_spark.operators.multimodal import _numpy_decode

    # JPEG has no native codec: a baseline (SOF0) and a
    # lossless-arithmetic (SOF11) header both meet the Pillow seam
    sof = struct.pack(">H", 8) + b"\x08\x00\x01\x00\x01\x01"
    for marker in (b"\xc0", b"\xcb"):
        with pt.raises(NotImplementedError, match="Pillow"):
            _numpy_decode(b"\xff\xd8\xff" + marker + sof)
    # an unknown magic stays a hard seam too
    with pt.raises(NotImplementedError, match="Pillow"):
        _numpy_decode(b"II*\x00notatiffreally")


def test_png_round_trip_all_color_types():
    """encode→decode identity for gray/RGB/RGBA (filter-0 rows)."""
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(7)
    for shape in [(5, 9), (6, 4, 3), (3, 7, 4)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(img))
        assert out.shape == img.shape and (out == img).all()


def test_png_all_five_scanline_filters_reconstruct():
    """Hand-filter each row with a DIFFERENT spec filter (None, Sub,
    Up, Average, Paeth), build the PNG manually, and require the
    decoder to reconstruct the original exactly — the filter math is
    the part a round-trip through our own filter-0 encoder never
    exercises."""
    import struct
    import zlib as _z

    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)
    raw = b""
    for r, ft in enumerate([0, 1, 2, 3, 4]):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(stride, np.int32)
        line = np.zeros(stride, np.int32)
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b_ = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b_
            elif ft == 3:
                pred = (a + b_) >> 1
            else:
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
            line[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ft]) + bytes(line.astype(np.uint8))

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(png)
    assert (out == img).all()


def test_png_rejects_corruption_and_exotic_forms():
    import struct
    import zlib as _z

    import numpy as np
    import pytest

    from opentimes_spark.operators.multimodal import decode_png, encode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = bytearray(encode_png(img))
    good[40] ^= 0xFF  # flip a byte inside a chunk body
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")

    # 16-bit depth decodes natively as of round 9 (was the disclosed
    # r8 seam) — the same stream that used to raise now yields uint16
    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF)
        )

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    got = decode_png(deep)
    assert got.dtype == np.uint16 and got.shape == (2, 2, 3)
    assert not got.any()


def test_numpy_codec_decodes_png_payload_in_spark(spark):
    """The mapInPandas 'numpy' codec path reports real PNG dimensions."""
    import numpy as np

    from opentimes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_png,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i, (h, w) in enumerate([(12, 34), (7, 5)]):
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(encode_png(img)), "image/png"))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: (r["width"], r["height"])
           for r in decode_image(df, codec="numpy").collect()}
    assert got == {0: (34, 12), 1: (5, 7)}


def test_gif_round_trip_and_palette_mapping():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, size=(7, 3)).astype(np.uint8)
    idx = rng.randint(0, 7, size=(9, 13)).astype(np.uint8)
    out = decode_gif(encode_gif(idx, pal))
    assert out.shape == (9, 13, 3) and (out == pal[idx]).all()


def test_gif_real_lzw_dictionary_growth_decodes():
    """The decoder against an ACTUAL LZW compressor (dictionary growth,
    width escalation, mid-stream clear) — the no-compression form our
    encoder emits never exercises those paths."""
    import numpy as np

    from opentimes_spark.operators.multimodal import _lzw_decode

    def lzw_compress(indices, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(1 << min_code)}
        next_code, width, acc, nb = end + 1, min_code + 1, 0, 0
        out = bytearray()

        def emit(c):
            nonlocal acc, nb
            acc |= c << nb
            nb += width
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        emit(clear)
        wbuf = b""
        for px in indices:
            nxt = wbuf + bytes([px])
            if nxt in table:
                wbuf = nxt
            else:
                emit(table[wbuf])
                table[nxt] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) and width < 12:
                    width += 1
                wbuf = bytes([px])
        if wbuf:
            emit(table[wbuf])
        emit(end)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.RandomState(9)
    for min_code in (2, 4):
        seq = list(rng.randint(0, 1 << min_code, size=800))
        assert _lzw_decode(lzw_compress(seq, min_code), min_code, 800) == seq


def test_gif_interlaced_rows_reassemble():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, size=(4, 3)).astype(np.uint8)
    h, w = 11, 5
    idx = rng.randint(0, 4, size=(h, w)).astype(np.uint8)
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    gif = bytearray(encode_gif(idx[order], pal))
    dpos = gif.index(0x2C)  # image descriptor
    gif[dpos + 9] |= 0x40  # set the interlace flag
    out = decode_gif(bytes(gif))
    assert (out == pal[idx]).all()


def test_gif_rejects_non_gif_and_truncation():
    import numpy as np
    import pytest

    from opentimes_spark.operators.multimodal import decode_gif, encode_gif

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF....")
    pal = np.zeros((2, 3), np.uint8)
    idx = np.zeros((4, 4), np.uint8)
    good = encode_gif(idx, pal)
    with pytest.raises(ValueError):
        decode_gif(good[:20])


def test_numpy_codec_decodes_gif_payload_in_spark(spark):
    import numpy as np

    from opentimes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_gif,
    )

    rng = np.random.RandomState(2)
    pal = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    idx = rng.randint(0, 8, size=(6, 17)).astype(np.uint8)
    df = spark.createDataFrame(
        [(0, "image", bytearray(encode_gif(idx, pal)), "image/gif")],
        MEDIA_SCHEMA,
    )
    r = decode_image(df, codec="numpy").collect()[0]
    assert (r["width"], r["height"]) == (17, 6)


def test_resize_bilinear_antialiases_vs_nearest(spark):
    """Bilinear resize through the full Spark path: downscaling a
    checkerboard PPM averages toward mid-gray (anti-aliasing) where
    nearest keeps only the extremes; constant images survive exactly
    under both; unknown interpolation raises."""
    import numpy as np
    import pytest as pt

    from opentimes_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm,
        encode_ppm,
        resize_images,
    )

    cb = (np.indices((16, 16)).sum(0) % 2 * 255).astype(np.uint8)
    cb3 = np.stack([cb] * 3, axis=-1)
    flat = np.full((10, 12, 3), 77, np.uint8)
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(encode_ppm(cb3)), "image/x-ppm"),
            (1, "image", bytearray(encode_ppm(flat)), "image/x-ppm"),
        ],
        MEDIA_SCHEMA,
    )
    bil = {
        r["media_id"]: decode_ppm(bytes(r["payload"]))
        for r in resize_images(
            media, 8, 8, codec="numpy", interpolation="bilinear"
        ).collect()
    }
    near = {
        r["media_id"]: decode_ppm(bytes(r["payload"]))
        for r in resize_images(
            media, 8, 8, codec="numpy", interpolation="nearest"
        ).collect()
    }
    # nearest keeps only 0/255 on the checkerboard; bilinear blends —
    # at the exact 2:1 ratio every sample sits mid-cell, so the blend
    # is the perfect uniform 128
    assert set(np.unique(near[0])) <= {0, 255}
    assert 100 < bil[0].mean() < 160
    assert not (set(np.unique(bil[0])) & {0, 255})
    # constant image exact under both
    assert (bil[1] == 77).all() and (near[1] == 77).all()
    with pt.raises(ValueError, match="interpolation"):
        resize_images(media, 8, 8, codec="numpy", interpolation="bicubic")


# --- round 9: full PNG format matrix (palette / sub-byte / 16-bit / Adam7) --


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _png_pack_row(samples, depth):
    """1-D sample values → packed scanline bytes, MSB-first (spec §7.2)."""
    import numpy as np

    s = np.asarray(samples)
    if depth == 16:
        return s.astype(">u2").tobytes()
    if depth == 8:
        return s.astype(np.uint8).tobytes()
    bits = ((s[:, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    return np.packbits(bits.reshape(-1)).tobytes()


def _png_filter_rows(rows, bpp, ftype=0):
    """Forward-filter packed rows (list of bytes) with one filter type —
    the encoder side of spec §6, written independently of the decoder."""
    import numpy as np

    out = b""
    prev = np.zeros(len(rows[0]), np.int32)
    for rb in rows:
        raw = np.frombuffer(rb, np.uint8).astype(np.int32)
        if ftype == 0:
            enc = raw
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), raw[:-bpp]])
            enc = (raw - left) & 0xFF
        elif ftype == 2:  # Up
            enc = (raw - prev) & 0xFF
        else:
            raise ValueError(ftype)
        out += bytes([ftype]) + enc.astype(np.uint8).tobytes()
        prev = raw
    return out


def _build_png(w, h, depth, color, raw_stream, plte=None, trns=None,
               interlace=0):
    import struct
    import zlib

    b = b"\x89PNG\r\n\x1a\n"
    b += _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if plte is not None:
        b += _png_chunk(b"PLTE", bytes(plte.reshape(-1)))
    if trns is not None:
        b += _png_chunk(b"tRNS", trns)
    b += _png_chunk(b"IDAT", zlib.compress(raw_stream))
    b += _png_chunk(b"IEND", b"")
    return b


def test_png_palette_with_and_without_trns():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png

    plte = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], np.uint8
    )
    idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 2], [1, 1, 3, 0, 3]],
                   np.uint8)
    # depth-4 palette: two indices per byte
    raw = _png_filter_rows(
        [_png_pack_row(r, 4) for r in idx], bpp=1, ftype=0
    )
    got = decode_png(_build_png(5, 3, 4, 3, raw, plte=plte))
    assert got.shape == (3, 5, 3)
    assert np.array_equal(got, plte[idx])
    # with per-index alpha (tRNS shorter than the palette: rest opaque)
    got_a = decode_png(
        _build_png(5, 3, 4, 3, raw, plte=plte, trns=bytes([0, 128]))
    )
    assert got_a.shape == (3, 5, 4)
    assert np.array_equal(got_a[:, :, :3], plte[idx])
    exp_alpha = np.array([0, 128, 255, 255], np.uint8)[idx]
    assert np.array_equal(got_a[:, :, 3], exp_alpha)


def test_png_16bit_gray_and_rgb_sub_filter():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(11)
    g16 = rng.randint(0, 65536, (4, 7), dtype=np.uint16)
    raw = _png_filter_rows(
        [_png_pack_row(r, 16) for r in g16], bpp=2, ftype=1
    )
    got = decode_png(_build_png(7, 4, 16, 0, raw))
    assert got.dtype == np.uint16 and np.array_equal(got, g16)

    rgb16 = rng.randint(0, 65536, (3, 5, 3), dtype=np.uint16)
    raw = _png_filter_rows(
        [_png_pack_row(r.reshape(-1), 16) for r in rgb16], bpp=6, ftype=2
    )
    got = decode_png(_build_png(5, 3, 16, 2, raw))
    assert got.dtype == np.uint16 and np.array_equal(got, rgb16)


def test_png_subbyte_gray_scales_to_8bit():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png

    bits = np.array([[1, 0, 1, 1, 0, 1, 0, 0, 1], [0] * 9], np.uint8)
    raw = _png_filter_rows([_png_pack_row(r, 1) for r in bits], bpp=1)
    got = decode_png(_build_png(9, 2, 1, 0, raw))
    assert np.array_equal(got, bits * 255)

    two = np.array([[0, 1, 2, 3, 3]], np.uint8)
    raw = _png_filter_rows([_png_pack_row(r, 2) for r in two], bpp=1)
    got = decode_png(_build_png(5, 1, 2, 0, raw))
    assert np.array_equal(got[0], np.array([0, 85, 170, 255, 255]))


def test_png_trns_colorkey_adds_alpha():
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png

    g = np.array([[7, 9], [9, 7]], np.uint8)
    raw = _png_filter_rows([_png_pack_row(r, 8) for r in g], bpp=1)
    got = decode_png(
        _build_png(2, 2, 8, 0, raw, trns=(9).to_bytes(2, "big"))
    )
    assert got.shape == (2, 2, 2)
    assert np.array_equal(got[:, :, 0], g)
    assert np.array_equal(got[:, :, 1], np.where(g == 9, 0, 255))


def test_png_adam7_matches_sequential_all_colortypes():
    """Interlaced decode equals the sequential decode of the same
    pixels; the pass streams are built here by independent numpy
    slicing (img[y0::dy, x0::dx]), not by the decoder's reassembly."""
    import numpy as np

    from opentimes_spark.operators.multimodal import decode_png, encode_png

    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    rng = np.random.RandomState(3)
    for shape, color, depth in [
        ((13, 11, 3), 2, 8),   # RGB8, odd dims exercise empty tails
        ((8, 8), 0, 8),        # gray8, exact pass grid
        ((5, 21, 4), 6, 8),    # RGBA8, wide
        ((9, 6), 0, 16),       # gray16
    ]:
        maxv = 65536 if depth == 16 else 256
        dt = np.uint16 if depth == 16 else np.uint8
        img = rng.randint(0, maxv, shape, dtype=dt)
        ch = 1 if img.ndim == 2 else img.shape[2]
        bpp = max(1, ch * depth // 8)
        stream = b""
        for i, (x0, y0, dx, dy) in enumerate(passes):
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            rows = [_png_pack_row(r.reshape(-1), depth) for r in sub]
            stream += _png_filter_rows(rows, bpp, ftype=i % 3)
        h, w = img.shape[:2]
        got = decode_png(
            _build_png(w, h, depth, color, stream, interlace=1)
        )
        assert got.dtype == dt and np.array_equal(got, img), (shape, depth)
        if depth == 8:
            # sequential twin via the repo's own encoder
            assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_invalid_combos_raise():
    import numpy as np
    import pytest as pt

    from opentimes_spark.operators.multimodal import decode_png

    raw = _png_filter_rows([b"\x00\x00"], bpp=1)
    with pt.raises(ValueError, match="invalid PNG header"):
        decode_png(_build_png(1, 1, 16, 3, raw))  # 16-bit palette: illegal
    with pt.raises(ValueError, match="invalid PNG header"):
        decode_png(_build_png(1, 1, 4, 2, raw))   # 4-bit RGB: illegal
    with pt.raises(ValueError, match="missing PLTE"):
        decode_png(_build_png(2, 1, 8, 3, _png_filter_rows([b"\x00\x01"], 1)))
    idx = np.array([[3]], np.uint8)
    plte = np.array([[1, 2, 3]], np.uint8)  # only index 0 valid
    raw = _png_filter_rows([_png_pack_row(r, 8) for r in idx], 1)
    with pt.raises(ValueError, match="palette index"):
        decode_png(_build_png(1, 1, 8, 3, raw, plte=plte))


def test_resize_images_gray_rgba_payloads(spark):
    """resize must not crash on the shapes the native decoders
    legitimately produce: grayscale (HxW), gray+alpha (HxWx2 — PNG
    color type 4, also what a grayscale PNG with a tRNS chunk decodes
    to), and RGBA PNGs."""
    import numpy as np

    from opentimes_spark.operators.multimodal import encode_png, resize_images

    rng = np.random.RandomState(5)
    gray = rng.randint(0, 256, (20, 20), np.uint8)
    la = rng.randint(0, 256, (20, 20, 2), np.uint8)
    rgba = rng.randint(0, 256, (20, 20, 4), np.uint8)
    df = spark.createDataFrame(
        [(1, "image", bytearray(encode_png(gray))),
         (2, "image", bytearray(encode_png(la))),
         (3, "image", bytearray(encode_png(rgba)))],
        "media_id long, kind string, payload binary",
    )
    for interp in ("nearest", "bilinear"):
        out = resize_images(
            df, target_w=8, target_h=8, codec="real", interpolation=interp
        ).collect()
        assert len(out) == 3 and all(len(r["payload"]) > 0 for r in out)


def test_to_rgb8_la_keeps_luma_drops_alpha():
    """HxWx2 (gray+alpha) normalizes to HxWx3 by replicating channel 0
    and discarding alpha — PIL convert('RGB') semantics."""
    import numpy as np

    from opentimes_spark.operators.multimodal import _to_rgb8

    la = np.dstack([
        np.arange(12, dtype=np.uint8).reshape(3, 4),
        np.full((3, 4), 200, np.uint8),
    ])
    rgb = _to_rgb8(la)
    assert rgb.shape == (3, 4, 3)
    assert (rgb[:, :, 0] == la[:, :, 0]).all()
    assert (rgb[:, :, 1] == la[:, :, 0]).all()
    assert (rgb[:, :, 2] == la[:, :, 0]).all()
