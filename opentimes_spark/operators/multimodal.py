"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing — schema, batch shape, partition sizing, UDF
signatures — is real and tested, and so are the stdlib+numpy codecs:

- REAL decode: PPM (P6), 24-bit BMP, PNG (zlib inflate + the five
  spec scanline filters, CRC-checked — full core matrix as of round 9:
  1/2/4/8/16-bit, gray/RGB/palette/gray-alpha/RGBA, Adam7 interlace,
  PLTE + tRNS) and single-frame GIF (full LZW with dictionary growth +
  4-pass interlace) — each with an encoder partner and byte-level
  round-trip tests.  JPEG, audio payloads and video containers have no
  native codec; ``frame_sample_plan`` plans video frames from metadata
  only.
- ``decode_image`` with ``codec="fake"`` runs a deterministic synthetic
  decoder (dimensions + checksum derived from the bytes) for pipeline
  tests that don't care about pixels;
- ``codec="real"`` auto-detects Pillow per worker process and falls
  back to the native codecs; any other payload (JPEG included) raises
  a ``NotImplementedError`` naming Pillow at that seam.

Scale notes: binary payloads dominate row size, so operators here
(a) never collect payloads to the driver, (b) project metadata-only
columns before any wide operation, and (c) use ``mapInPandas`` so one
Python worker invocation amortizes over a whole Arrow batch. For 100 TB
of media the table should be written with payloads in their own parquet
column chunk (automatic) and ``spark.sql.files.maxPartitionBytes`` sized
so a task's batch of blobs fits executor memory.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), True),
    ]
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("checksum", StringType(), False),
    ]
)


def synthesize_media(spark, n: int = 64, payload_bytes: int = 256) -> DataFrame:
    """Deterministic fake media table (seeded by media_id) for tests and
    benchmarks — stands in for a real ingest of binary files
    (spark.read.format('binaryFile') in production)."""
    rows = []
    for i in range(n):
        rng = np.random.RandomState(i)
        payload = rng.bytes(payload_bytes)
        kind = ["image", "audio", "video"][i % 3]
        rows.append((i, kind, bytearray(payload), f"application/x-fake-{kind}"))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic 'decode': dimensions derived from a stable digest of
    the payload — any engine computing this gets identical results."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


# --- real (pure-numpy) codecs for UNCOMPRESSED formats ---------------------
# PPM (P6) and 24-bit BMP need no image library — just header parsing and
# a reshape; PNG adds stdlib zlib + the five spec filters (round 6, full
# format matrix round 9) and GIF adds LZW.  Every other format (JPEG
# included) is behind the Pillow seam.


def encode_ppm(img: np.ndarray) -> bytes:
    """HxWx3 uint8 → binary PPM (P6)."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_ppm(b: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) → HxWx3 uint8. Handles comment lines
    and arbitrary whitespace per the spec."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # tokenize header: magic, width, height, maxval (comments start '#')
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(b):
        c = b[i : i + 1]
        if c == b"#":
            i = b.index(b"\n", i)
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(b) and not b[j : j + 1].isspace():
                j += 1
            tokens.append(b[i:j])
            i = j
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    i += 1  # single whitespace after maxval
    data = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=i)
    return data.reshape(h, w, 3)


def decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed 24-bit bottom-up BMP → HxWx3 uint8 (RGB)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    row_bytes = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        b, dtype=np.uint8, count=row_bytes * abs(h), offset=data_off
    ).reshape(abs(h), row_bytes)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:
        rows = rows[::-1]  # bottom-up → top-down
    return rows[..., ::-1].copy()  # BGR → RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray) -> bytes:
    """uint8 image → non-interlaced 8-bit PNG (filter 0 rows, one
    zlib-compressed IDAT).  Grayscale (HxW), gray+alpha (HxWx2, color
    type 4), RGB (HxWx3), or RGBA (HxWx4).  Pure stdlib (struct +
    zlib) — the round-trip partner of ``decode_png``."""
    import struct

    if img.dtype != np.uint8:
        raise ValueError("encode_png needs uint8")
    if img.ndim == 2:
        color = 0
    elif img.ndim == 3 and img.shape[2] == 2:
        color = 4
    elif img.ndim == 3 and img.shape[2] == 3:
        color = 2
    elif img.ndim == 3 and img.shape[2] == 4:
        color = 6
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# Adam7 interlace pass geometry (PNG 1.2 §8.2): (x0, y0, dx, dy).
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, off: int, h_sub: int, stride: int, bpp: int):
    """Reverse the five PNG scanline filters (spec §6) over one
    (sub-)image of ``h_sub`` rows × ``stride`` bytes starting at byte
    ``off`` in the inflated stream; ``bpp`` is the filter's byte
    distance to the pixel to the left.  Returns (rows, next_offset)."""
    out = np.zeros((h_sub, stride), dtype=np.uint8)
    for r in range(h_sub):
        ft = raw[off + r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + r * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r else np.zeros(stride, np.int32)
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 1:  # Sub: per-unit prefix sum mod 256 (vectorized —
            # addition is associative under mod, so cumsum ≡ the spec's
            # left-to-right recurrence; ADVICE r6 perf item).  Pad to a
            # bpp multiple so short tail bytes (sub-byte depths) fold.
            pad = (-stride) % bpp
            padded = np.concatenate([line, np.zeros(pad, np.int32)])
            cur = (
                np.cumsum(padded.reshape(-1, bpp), axis=0, dtype=np.int64)
                & 0xFF
            ).reshape(-1)[:stride]
        else:  # Average / Paeth carry a true left-dependency (the
            # predictor branches on the RECONSTRUCTED left byte), so the
            # recurrence is inherently sequential — interpreted loop,
            # O(stride) per row; Pillow's C path is the fast seam for
            # megapixel images
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                bb = prev[i]
                if ft == 3:  # Average
                    cur[i] = (line[i] + ((a + bb) >> 1)) & 0xFF
                elif ft == 4:  # Paeth
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
                    cur[i] = (line[i] + pred) & 0xFF
                else:
                    raise ValueError(f"unknown PNG filter {ft}")
        out[r] = cur.astype(np.uint8)
    return out, off + h_sub * (stride + 1)


def _png_unpack(rows: np.ndarray, w_sub: int, ch: int, depth: int) -> np.ndarray:
    """Defiltered scanline bytes → (h_sub, w_sub, ch) sample array at
    the stored bit depth (uint16 for 16-bit, else uint8)."""
    h_sub = rows.shape[0]
    if depth == 16:
        flat = np.frombuffer(rows.tobytes(), dtype=">u2")
        return flat.reshape(h_sub, -1)[:, : w_sub * ch].reshape(
            h_sub, w_sub, ch
        ).astype(np.uint16)
    if depth == 8:
        return rows[:, : w_sub * ch].reshape(h_sub, w_sub, ch)
    # sub-byte depths (1/2/4, gray or palette — ch == 1): unpack bits
    # row-wise, regroup into depth-bit samples MSB-first (spec §7.2)
    bits = np.unpackbits(rows, axis=1)
    per = depth
    n_samples = bits.shape[1] // per
    weights = (1 << np.arange(per - 1, -1, -1)).astype(np.uint8)
    vals = (
        bits[:, : n_samples * per].reshape(h_sub, n_samples, per) * weights
    ).sum(axis=2)
    return vals[:, :w_sub].reshape(h_sub, w_sub, 1).astype(np.uint8)


def decode_png(b: bytes) -> np.ndarray:
    """PNG → numpy array, PURE stdlib+numpy (zlib inflate + all five
    scanline filters per the PNG 1.2 spec §6), covering the full core
    format matrix: bit depths 1/2/4/8/16, color types gray / RGB /
    palette / gray+alpha / RGBA, Adam7 interlace, PLTE + tRNS.

    Output contract: 16-bit images return uint16 (full 0–65535 range);
    sub-byte grayscale scales to 0–255 by sample replication
    (v·255/(2^d−1), the spec's §12.5 recommendation); palette images
    return the looked-up RGB (or RGBA when a tRNS chunk assigns
    per-index alpha); gray/RGB images carrying a tRNS transparent
    color gain an alpha channel (0 where the sample matches).  CRCs
    are verified per chunk."""
    import struct

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = b""
    plte = None
    trns = None
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r}: CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    _CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    valid_depths = {
        0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
        4: (8, 16), 6: (8, 16),
    }
    if (
        color not in _CH
        or depth not in valid_depths[color]
        or comp
        or filt
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"invalid PNG header: depth={depth} color={color} "
            f"comp={comp} filt={filt} interlace={interlace}"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    ch = _CH[color]
    bits_pp = ch * depth
    bpp = max(1, bits_pp // 8)
    raw = zlib.decompress(idat)

    samples = np.zeros(
        (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
    )
    passes = [(0, 0, 1, 1)] if interlace == 0 else _ADAM7
    off = 0
    for x0, y0, dx, dy in passes:
        w_sub = (w - x0 + dx - 1) // dx
        h_sub = (h - y0 + dy - 1) // dy
        if w_sub <= 0 or h_sub <= 0:
            continue
        stride = (w_sub * bits_pp + 7) // 8
        rows, off = _png_defilter(raw, off, h_sub, stride, bpp)
        samples[y0::dy, x0::dx] = _png_unpack(rows, w_sub, ch, depth)
    if off != len(raw):
        raise ValueError("PNG data length mismatch")

    if color == 3:  # palette lookup (indices are never scaled)
        idx = samples[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if trns is not None and color in (0, 2):
        # single transparent color: 2 big-endian bytes per sample at
        # the STORED depth — match before any scaling
        tvals = struct.unpack(f">{ch}H", trns)
        mask = np.all(
            samples == np.array(tvals, dtype=samples.dtype), axis=2
        )
        alpha_max = 65535 if depth == 16 else 255
        alpha = np.where(mask, 0, alpha_max).astype(samples.dtype)
    else:
        alpha = None
    if depth in (1, 2, 4):  # sub-byte gray scales to full 8-bit range
        samples = (
            samples.astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
    elif depth == 8:
        samples = samples.astype(np.uint8)
    if alpha is not None:
        samples = np.dstack([samples, alpha])
        ch += 1
    return samples[:, :, 0] if ch == 1 else samples


def encode_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """HxW palette-index image + Nx3 palette → single-frame GIF89a.
    The LZW stream uses the textbook no-compression form (a CLEAR code
    before every pixel keeps the dictionary empty and the code width
    fixed) — every conformant decoder accepts it, and it keeps this
    encoder ~20 lines.  The round-trip partner of ``decode_gif``."""
    import struct

    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("encode_gif needs a 2-D uint8 index image")
    h, w = indices.shape
    n = len(palette)
    bits = max(2, (n - 1).bit_length())
    size = 1 << bits
    if indices.max(initial=0) >= n:
        raise ValueError("index exceeds palette")
    pal = np.zeros((size, 3), np.uint8)
    pal[:n] = np.asarray(palette, dtype=np.uint8)
    out = b"GIF89a" + struct.pack("<HH", w, h)
    out += bytes([0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0])
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([bits])  # LZW minimum code size
    clear, end = 1 << bits, (1 << bits) + 1
    width = bits + 1
    # LSB-first bit packing of: CLEAR (p CLEAR)* END
    acc = n_bits = 0
    packed = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    emit(clear)
    for px in indices.ravel():
        emit(int(px))
        emit(clear)
    emit(end)
    if n_bits:
        packed.append(acc & 0xFF)
    data = bytes(packed)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3b"


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first codes, CLEAR/END, width grows at
    2^width up to 12 bits."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = [[i] for i in range(1 << min_code)] + [None, None]
    table = list(base)
    width = min_code + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = n_bits = pos = 0
    while len(out) < n_pixels:
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]
        else:
            raise ValueError(f"bad GIF LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = list(entry)
    return out[:n_pixels]


def decode_gif(b: bytes) -> np.ndarray:
    """Single-frame GIF87a/89a → HxWx3 uint8 via the palette, PURE
    Python (full LZW with dictionary growth + the 4-pass interlace
    order).  Extensions (graphics control, comments) are skipped;
    only the FIRST image is decoded.  With PNG this completes the
    native coverage of the common lossless web formats; JPEG is behind
    the Pillow seam."""
    import struct

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh = struct.unpack("<HH", b[6:10])
    packed, _bg, _ar = b[10], b[11], b[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while b[pos]:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _l, _t, w, h, ipacked = struct.unpack("<HHHHB", b[pos : pos + 9])
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF image has no color table")
        min_code = b[pos]
        pos += 1
        data = bytearray()
        while b[pos]:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.array(
            _lzw_decode(bytes(data), min_code, w * h), dtype=np.uint8
        ).reshape(h, w)
        if ipacked & 0x40:  # 4-pass interlace
            de = np.zeros_like(idx)
            rows = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            for src, dst in enumerate(rows):
                de[dst] = idx[src]
            idx = de
        return pal[idx]
    raise ValueError("GIF contains no image data")


def _numpy_decode(b: bytes) -> np.ndarray:
    if b.startswith(b"P6"):
        return decode_ppm(b)
    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:8] == _PNG_SIG:
        return decode_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    raise NotImplementedError(
        "numpy codec handles uncompressed PPM/BMP, full-matrix PNG "
        "(1/2/4/8/16-bit, gray/RGB/palette/alpha, Adam7) and "
        "single-frame GIF; other formats (JPEG included) require "
        "Pillow — not in this container"
    )


# --- optional-Pillow seam --------------------------------------------------
# Pillow is detected lazily PER PROCESS (the pandas-UDF workers import this
# module independently of the driver) and cached; when absent, the pure-
# numpy codecs still handle uncompressed formats, so "real" degrades
# gracefully instead of refusing outright.

_PIL_IMAGE: object = "unset"


def _pillow():
    """The PIL.Image module if importable in THIS process, else None.
    Cached after first probe; tests reset the cache to inject fakes."""
    global _PIL_IMAGE
    if _PIL_IMAGE == "unset":
        try:
            from PIL import Image as _img  # noqa: N813

            _PIL_IMAGE = _img
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


def _real_decode(b: bytes) -> np.ndarray:
    """Best-available decode: Pillow when installed (any format it
    knows), else the native codecs (PPM/BMP, full-matrix PNG,
    single-frame GIF), else a NotImplementedError naming the missing
    dependency."""
    img_mod = _pillow()
    if img_mod is not None:
        import io as _io

        im = img_mod.open(_io.BytesIO(b))
        return np.asarray(im.convert("RGB"))
    try:
        return _numpy_decode(b)
    except NotImplementedError as e:
        raise NotImplementedError(
            f"{e} — Pillow is not importable in this container; PPM, "
            "BMP, full-matrix PNG and single-frame GIF decode natively "
            "without it"
        ) from None


def decode_image(df: DataFrame, codec: str = "fake") -> DataFrame:
    """payload → (width, height, n_bytes, checksum) metadata frame.

    Codecs: ``"fake"`` (digest-derived dims, any payload), ``"numpy"``
    (REAL decode of PPM/BMP, PNG and single-frame GIF, no image
    library), ``"real"`` (best available: Pillow when importable in
    the worker process — any format it knows — else the numpy codecs;
    any other format without Pillow, JPEG included, raises at the
    disclosed seam inside the UDF)."""
    if codec not in ("fake", "numpy", "real"):
        raise ValueError(f"unknown codec: {codec}")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # materialize each payload ONCE — dims, n_bytes, and the
            # checksum all read the same buffer (three bytes() calls
            # per row tripled full-payload copies in the hot worker)
            bufs = [bytes(p) for p in batch["payload"]]
            if codec == "numpy":
                imgs = [_numpy_decode(p) for p in bufs]
                dims = [(im.shape[1], im.shape[0]) for im in imgs]
            elif codec == "real":
                imgs = [_real_decode(p) for p in bufs]
                dims = [(im.shape[1], im.shape[0]) for im in imgs]
            else:
                dims = [_fake_decode(p) for p in bufs]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "n_bytes": [len(p) for p in bufs],
                    "checksum": [
                        hashlib.md5(p).hexdigest() for p in bufs
                    ],
                }
            )

    return df.filter(F.col("kind") == "image").mapInPandas(decode, IMAGE_META_SCHEMA)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """payload → deterministic pseudo-embedding (unit-norm float array
    seeded from the checksum) — the feature-extraction seam where a real
    model (ONNX/torch via mapInPandas) would run. Output feeds the
    similarity operators unchanged."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("embedding", ArrayType(FloatType()), False),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for p in batch["payload"]:
                seed = zlib.crc32(bytes(p)) & 0xFFFFFFFF
                rng = np.random.RandomState(seed)
                v = rng.randn(dim)
                v /= np.linalg.norm(v)
                out.append([float(x) for x in v])
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "kind": batch["kind"],
                    "embedding": out,
                }
            )

    return df.mapInPandas(feats, schema)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: explodes per-video frame indices from
    metadata (frame count derived deterministically from payload length)
    without decoding — the shuffle-light pattern: plan rows first, decode
    only sampled frames in a later mapInPandas."""
    n_frames = (F.length(F.col("payload")) / 8).cast("int")
    # guard the generator: sequence(0, -1, every_n) has illegal
    # boundaries (start > stop, positive step) and raises at runtime —
    # a frameless payload must emit zero rows, not kill the job (the
    # dedup shingle-guard rule applied to media)
    idx = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.explode(idx).alias("frame_idx"))
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("payload", BinaryType(), False),
        StructField("n_bytes", LongType(), False),
    ]
)


def bilinear_resize(img: np.ndarray, target_h: int, target_w: int) -> np.ndarray:
    """Vectorized bilinear resize (align_corners=False pixel-center
    convention, the OpenCV/PIL default) — four gathered corner planes
    blended with broadcast weights, no per-pixel Python.  Gray (HxW)
    or channeled (HxWxC) uint8."""
    gray = img.ndim == 2
    im = (img[..., None] if gray else img).astype(np.float64)
    h, w = im.shape[:2]
    ys = (np.arange(target_h) + 0.5) * h / target_h - 0.5
    xs = (np.arange(target_w) + 0.5) * w / target_w - 0.5
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    wy = (ys - y0)[:, None, None]
    wx = (xs - x0)[None, :, None]
    y0c, y1c = y0.clip(0, h - 1), (y0 + 1).clip(0, h - 1)
    x0c, x1c = x0.clip(0, w - 1), (x0 + 1).clip(0, w - 1)
    a = im[np.ix_(y0c, x0c)]
    b = im[np.ix_(y0c, x1c)]
    c = im[np.ix_(y1c, x0c)]
    d = im[np.ix_(y1c, x1c)]
    out = (
        a * (1 - wx) * (1 - wy)
        + b * wx * (1 - wy)
        + c * (1 - wx) * wy
        + d * wx * wy
    )
    out = np.clip(np.round(out), 0, 255).astype(np.uint8)
    return out[..., 0] if gray else out


def _to_rgb8(img: np.ndarray) -> np.ndarray:
    """Normalize any native-decoder output to the HxWx3 uint8 shape the
    PPM re-encode requires: grayscale (HxW or HxWx1) replicates to 3
    channels, gray+alpha (HxWx2 — PNG color type 4 or gray+tRNS) keeps
    the luma channel and drops alpha, RGBA drops alpha (PIL
    convert('RGB') semantics), and 16-bit samples keep their high
    byte.  Without this, a legal grayscale/LA/RGBA/16-bit PNG killed
    the whole resize task on the `h, w, _ = img.shape` unpack or the
    encode_ppm uint8-RGB assert."""
    if img.ndim == 2:
        img = img[:, :, None]
    if img.shape[2] == 2:
        img = img[:, :, :1]
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    elif img.shape[2] == 4:
        img = img[:, :, :3]
    if img.dtype == np.uint16:
        img = (img >> 8).astype(np.uint8)
    return np.ascontiguousarray(img)


def resize_images(
    df: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    codec: str = "fake",
    interpolation: str = "nearest",
) -> DataFrame:
    """payload → resized payload at (target_w, target_h). The 'fake'
    codec produces a deterministic downsampled byte stream (stride
    sampling of the source bytes to the target pixel count) so the
    batch shape, output schema, and size contraction are all real;
    ``codec="real"`` marks the Pillow ``Image.resize`` seam.

    Scale: resize is the classic payload-shrinking projection — run it
    EARLY so every downstream shuffle moves target-size bytes, not
    source-size. Output row size is bounded by target dims regardless of
    input skew (a 100 MB source row and a 100 KB one both emit
    target_w*target_h).

    ``codec="numpy"`` performs a REAL nearest-neighbor resize of
    uncompressed PPM/BMP payloads (pure index sampling) and re-encodes
    the result as PPM; ``"fake"`` stride-samples raw bytes (any
    payload); ``"real"`` decodes best-available (Pillow when importable
    in the worker, numpy otherwise) then resizes and re-encodes as PPM
    — one uniform output codec regardless of input.

    ``interpolation``: "nearest" (index sampling — fastest, aliases on
    downscale) or "bilinear" (round 7: four-corner blend, the
    anti-aliased default every vision preprocessing stack uses;
    vectorized, align_corners=False convention)."""
    if codec not in ("fake", "numpy", "real"):
        raise ValueError(f"unknown codec: {codec}")
    if interpolation not in ("nearest", "bilinear"):
        raise ValueError(f"unknown interpolation: {interpolation}")
    n_out = target_w * target_h

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            outs = []
            for p in batch["payload"]:
                b = bytes(p)
                if codec in ("numpy", "real"):
                    img = _numpy_decode(b) if codec == "numpy" else _real_decode(b)
                    img = _to_rgb8(img)
                    if interpolation == "bilinear":
                        out = encode_ppm(
                            np.ascontiguousarray(
                                bilinear_resize(img, target_h, target_w)
                            )
                        )
                    else:
                        h, w, _ = img.shape
                        yi = (np.arange(target_h) * h // target_h).clip(0, h - 1)
                        xi = (np.arange(target_w) * w // target_w).clip(0, w - 1)
                        out = encode_ppm(np.ascontiguousarray(img[yi][:, xi]))
                elif len(b) >= n_out:
                    stride = len(b) // n_out
                    out = b[::stride][:n_out]
                else:
                    out = (b * (n_out // max(len(b), 1) + 1))[:n_out]
                outs.append(out)
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "width": target_w,
                    "height": target_h,
                    "payload": outs,
                    "n_bytes": [len(o) for o in outs],
                }
            )

    return df.filter(F.col("kind") == "image").mapInPandas(resize, RESIZED_SCHEMA)
