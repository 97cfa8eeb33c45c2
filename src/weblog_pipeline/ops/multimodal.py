"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata. Every media generator and decoder is a per-row
kernel mapped by one Arrow row stage, `_map_rows` (`mapInArrow`, output
batches built with `pa.RecordBatch.from_pylist`); the stage owns column
pruning, batch assembly and the `on_error` quarantine contract.

The decode kernels are REAL, hand-written against the public format specs
with stdlib + numpy only (this container ships no PIL/ffmpeg): BMP, P6
PPM, PNG (zlib inflate, CRC check, all five scanline filters), GIF (full
variable-width LZW), JPEG (baseline grayscale + interleaved color at
4:4:4/4:2:0, progressive grayscale with spectral selection + successive
approximation, progressive interleaved color), WAV (linear PCM + G.711
mu-law), and MJPEG-AVI video (RIFF chunk walk, per-frame JPEG). Remaining
codec gaps (MP3/AAC-class audio, non-MJPEG video) raise
NotImplementedError
honestly; corrupt inputs raise ValueError and are quarantined. A
deterministic `fake=True` stand-in (derived purely from the bytes) keeps
the distributed plumbing exercisable where a codec is absent.

At 100 TB: binary payloads dominate row size, so the stage (a) prunes to
exactly (id, payload) before the UDF, (b) relies on small Arrow batches
(session.py) to bound executor memory, and (c) emits compact metadata rows
so everything downstream shuffles kilobytes, not blobs.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import DataFrame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8


BMP_HEADER_BYTES = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def bmp_stride(width: int, bpp: int = 24) -> int:
    """BMP rows are padded to 4-byte boundaries."""
    return ((width * (bpp // 8) + 3) // 4) * 4


def dib_palette_entry(p: int) -> tuple[int, int, int]:
    """Fixture palette for 8-bit DIB clips: index p -> (B, G, R) =
    (p, 2p mod 256, 3p mod 256). Distinct channels per index so a wrong
    channel order or off-by-one lookup changes the decoded bytes, and
    plain doc_id arithmetic so a SQL oracle recomputes the expansion."""
    return (p % 256, (2 * p) % 256, (3 * p) % 256)


def encode_bmp(width: int, height: int, pixel_byte: int) -> bytes:
    """Minimal real 24-bit uncompressed BMP (stdlib-only): standard
    file + info headers, rows padded to 4 bytes, solid pixel fill.
    Fixture generator for the real-decode round trip."""
    stride = bmp_stride(width)
    data_size = stride * height
    file_header = b"BM" + struct.pack(
        "<IHHI", BMP_HEADER_BYTES + data_size, 0, 0, BMP_HEADER_BYTES
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    return file_header + info_header + bytes([pixel_byte % 256]) * data_size


def decode_bmp(payload: bytes) -> dict:
    """REAL decoder for uncompressed BMP: parses the actual header bytes
    (no image library needed — the format is a fixed-layout struct).
    Feature = first FEATURE_DIM pixel-data bytes scaled to [0,1].

    Raises ValueError for payloads whose pixel data is shorter than the
    header's declared dimensions — a truncated blob is corrupt input and
    must hit the quarantine path, not flow downstream half-read."""
    if payload[:2] != b"BM" or len(payload) < BMP_HEADER_BYTES:
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) not supported")
    if bpp % 8 == 0 and bpp > 0:
        expected = data_offset + bmp_stride(abs(width), bpp) * abs(height)
        if len(payload) < expected:
            raise ValueError(
                f"truncated BMP: header declares {abs(width)}x{abs(height)}@{bpp}bpp"
                f" ({expected} bytes) but payload is {len(payload)} bytes"
            )
    pix = payload[data_offset : data_offset + FEATURE_DIM]
    feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
    return {
        "width": abs(width),
        "height": abs(height),  # negative height = top-down row order
        "n_frames": 1,
        "feature": feature,
        "bpp": bpp,
    }


def decode_ppm(payload: bytes) -> dict:
    """REAL decoder for binary PPM (P6): whitespace-separated ASCII header
    `P6 <width> <height> <maxval>` then raw RGB bytes."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3 and i < len(payload):
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(payload) and not payload[i : i + 1].isspace():
            i += 1
        fields.append(payload[start:i])
    if len(fields) < 3:
        raise ValueError("truncated PPM header")
    width, height = int(fields[0]), int(fields[1])
    pix = payload[i + 1 : i + 1 + FEATURE_DIM]
    feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
    return {"width": width, "height": height, "n_frames": 1, "feature": feature}


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import binascii

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", binascii.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, seed: int) -> bytes:
    """Minimal real PNG (stdlib-only: struct + zlib + crc32): 8-bit RGB,
    no interlace, pixel (x, y) = gray value (seed + x + y) % 256, each
    scanline forward-filtered with type y % 5 — so a decoder must invert
    every filter in the spec (None/Sub/Up/Average/Paeth) to reproduce the
    gradient. Fixture generator for the real-decode round trip."""
    import zlib

    bpp = 3
    raw_rows = []
    for y in range(height):
        raw_rows.append(
            bytes(
                (seed + x + y) % 256
                for x in range(width)
                for _ in range(bpp)
            )
        )
    stream = bytearray()
    prior = bytes(width * bpp)
    for y, raw in enumerate(raw_rows):
        ft = y % 5
        stream.append(ft)
        for i, v in enumerate(raw):
            a = raw[i - bpp] if i >= bpp else 0
            b = prior[i]
            c = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = v
            elif ft == 1:
                f = (v - a) % 256
            elif ft == 2:
                f = (v - b) % 256
            elif ft == 3:
                f = (v - (a + b) // 2) % 256
            else:
                f = (v - _paeth(a, b, c)) % 256
            stream.append(f)
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes, want_pixels: bool = False) -> dict:
    """REAL decoder for non-interlaced 8-bit grayscale/RGB/RGBA PNG
    (stdlib-only): parses the chunk stream, CRC-checks every chunk,
    zlib-inflates the concatenated IDAT data, and inverts the five
    scanline filters (None/Sub/Up/Average/Paeth). Feature = first
    FEATURE_DIM unfiltered pixel bytes (top-left pixels) scaled to [0,1],
    mirroring decode_bmp.

    Raises ValueError for anything corrupt or unsupported: bad signature,
    CRC mismatch, truncated chunks, interlaced images, palette color,
    bit depths other than 8, or a pixel stream whose length contradicts
    IHDR — all of which must hit the quarantine path."""
    import binascii
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    channels = 0
    saw_iend = False
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if binascii.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"PNG IHDR must be 13 bytes, got {len(body)}")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color not in (0, 2, 4, 6):  # gray, RGB, gray+A, RGBA
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG compression/filter method")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if not saw_iend:
        raise ValueError("PNG missing IEND chunk (truncated stream)")
    try:
        stream = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT: {e}") from e
    stride = width * channels
    if len(stream) != height * (1 + stride):
        raise ValueError(
            f"PNG pixel stream is {len(stream)} bytes, header implies "
            f"{height * (1 + stride)}"
        )
    out = bytearray(height * stride)
    prior = bytes(stride)
    for y in range(height):
        ft = stream[y * (1 + stride)]
        row = bytearray(stream[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        if ft == 1:
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) % 256
        elif ft == 2:
            for i in range(stride):
                row[i] = (row[i] + prior[i]) % 256
        elif ft == 3:
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + (a + prior[i]) // 2) % 256
        elif ft == 4:
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                c = prior[i - channels] if i >= channels else 0
                row[i] = (row[i] + _paeth(a, prior[i], c)) % 256
        elif ft != 0:
            raise ValueError(f"invalid PNG filter type {ft}")
        out[y * stride : (y + 1) * stride] = row
        prior = bytes(row)
    pix = bytes(out[:FEATURE_DIM])
    feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
    meta = {"width": width, "height": height, "n_frames": 1, "feature": feature}
    if want_pixels:
        # full unfiltered pixel buffer for whole-image consumers (aHash);
        # kept opt-in so the metadata path never carries the image body
        meta["pixels"] = bytes(out)
        meta["channels"] = channels
    return meta


def encode_gif(width: int, height: int, seed: int) -> bytes:
    """Minimal real GIF89a (stdlib-only): 256-entry grayscale global
    palette, one non-interlaced frame, pixel (x, y) = index
    (seed + x + y) % 256, LZW-coded as literal codes with a clear code
    every 254 symbols (the classic uncompressed-GIF trick — valid LZW any
    conforming decoder must handle). Fixture generator for the real
    decode round trip."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
    for v in range(256):
        out += bytes([v, v, v])  # grayscale palette
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out += bytes([8])  # LZW minimum code size
    # literal-code LZW: 9-bit codes, clear(256) resets before the table
    # can outgrow 9 bits; end(257) terminates
    bits = bitpos = 0
    coded = bytearray()

    def emit(code: int) -> None:
        nonlocal bits, bitpos
        bits |= code << bitpos
        bitpos += 9
        while bitpos >= 8:
            coded.append(bits & 0xFF)
            bits >>= 8
            bitpos -= 8

    emit(256)
    for i in range(width * height):
        if i and i % 254 == 0:
            emit(256)
        emit((seed + (i % width) + (i // width)) % 256)
    emit(257)
    if bitpos:
        coded.append(bits & 0xFF)
    for off in range(0, len(coded), 255):
        chunk = coded[off : off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """Full GIF-flavor LZW decode (variable code width, clear/end codes,
    KwKwK case) — handles any conforming encoder, not just the literal
    coder above."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if code < len(table) and code != end:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"invalid GIF LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(
            f"GIF pixel stream is {len(out)} indices, header implies {n_pixels}"
        )
    return out[:n_pixels]


def decode_gif(payload: bytes) -> dict:
    """REAL decoder for non-interlaced GIF87a/89a (stdlib-only): parses
    the logical screen descriptor and palette, walks the block stream
    (skipping extensions), LZW-decodes the FIRST image's index stream and
    maps it through the active palette; counts every image descriptor so
    animated GIFs report their real frame count. Feature = first
    FEATURE_DIM palette-mapped RGB bytes, mirroring the other decoders.

    Raises ValueError for truncated streams, interlaced images, missing
    palettes, or invalid LZW codes — quarantine-path inputs."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    n_frames = 0
    first: dict | None = None
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        fw, fh = struct.unpack_from("<HH", payload, pos + 5)
        iflags = payload[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            pal = payload[pos : pos + 3 * n]
            if len(pal) < 3 * n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        if iflags & 0x40:
            raise ValueError("interlaced GIF not supported")
        if pal is None:
            raise ValueError("GIF image has no color table")
        if pos >= len(payload):
            raise ValueError("truncated GIF image data")
        min_code = payload[pos]
        if not 1 <= min_code <= 11:
            # spec bounds this to <= 11 (12-bit max code width); a corrupt
            # byte here would otherwise drive an unbounded table build
            raise ValueError(f"invalid GIF LZW minimum code size {min_code}")
        pos += 1
        data = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            if pos + 1 + n > len(payload):
                raise ValueError("truncated GIF data sub-block")
            data += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1  # sub-block terminator
        n_frames += 1
        if first is None:
            idx = _lzw_decode(bytes(data), min_code, fw * fh)
            rgb = bytearray()
            for i in idx[: (FEATURE_DIM + 2) // 3]:
                if 3 * i + 3 > len(pal):
                    raise ValueError("GIF pixel index outside palette")
                rgb += pal[3 * i : 3 * i + 3]
            first = {"fw": fw, "fh": fh, "rgb": bytes(rgb[:FEATURE_DIM])}
    if first is None:
        raise ValueError("GIF contains no image")
    pix = first["rgb"]
    feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "feature": feature,
    }


# ---------------------------------------------------------------------------
# baseline JPEG (grayscale): real DCT + Huffman codec, stdlib + numpy only
# ---------------------------------------------------------------------------

#: JPEG spec Annex K.1 luminance quantization table (zigzag order applied
#: at (de)quantize time; stored here in natural row-major order).
JPEG_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

#: Annex K.2 chrominance quantization table (natural row-major order).
JPEG_QTABLE_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 luminance DC Huffman spec: (bits-per-length counts, symbols).
JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
JPEG_DC_VALS = list(range(12))
#: Annex K.4 chrominance DC Huffman spec.
JPEG_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
JPEG_DC_CHROMA_VALS = list(range(12))
#: Annex K.6 chrominance AC Huffman spec.
JPEG_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
JPEG_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
#: Annex K.5 luminance AC Huffman spec.
JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

#: zigzag scan order: index i of the scan -> position in the 8x8 block.
JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _huffman_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the JPEG canonical code construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huffman_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix():
    import numpy as np

    n = 8
    m = np.zeros((n, n))
    for k in range(n):
        c = math.sqrt(1.0 / n) if k == 0 else math.sqrt(2.0 / n)
        for x in range(n):
            m[k, x] = c * math.cos((2 * x + 1) * k * math.pi / (2 * n))
    return m


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, category-bit pattern)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per spec


def _encode_block(
    bw_out: "_BitWriter", seq: list[int], prev_dc: int, dc_tab: dict, ac_tab: dict
) -> int:
    """Huffman-encode one zigzag coefficient sequence; returns the new DC
    predictor."""
    diff = seq[0] - prev_dc
    size, bits_v = _magnitude(diff)
    code, ln = dc_tab[size]
    bw_out.write(code, ln)
    if size:
        bw_out.write(bits_v, size)
    run = 0
    for i in range(1, 64):
        v = seq[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            bw_out.write(code, ln)
            run -= 16
        size, bits_v = _magnitude(v)
        code, ln = ac_tab[(run << 4) | size]
        bw_out.write(code, ln)
        bw_out.write(bits_v, size)
        run = 0
    if run:
        code, ln = ac_tab[0x00]  # EOB
        bw_out.write(code, ln)
    return seq[0]


def _quantized_zigzag(block, m, q, zz) -> list[int]:
    import numpy as np

    coef = m @ (block - 128.0) @ m.T
    flat = np.round(coef / q).astype(np.int64).reshape(64)
    return [int(flat[zz[i]]) for i in range(64)]


def _pad_to_blocks(img, bh8: int, bw8: int):
    """Edge-replicate pad a 2D plane to (bh8, bw8)."""
    import numpy as np

    h, w = img.shape
    out = np.empty((bh8, bw8))
    out[:h, :w] = img
    out[h:, :w] = img[h - 1 : h, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def encode_jpeg_color(
    width: int, height: int, seed: int, subsample: bool = False
) -> bytes:
    """Minimal REAL baseline COLOR JPEG (stdlib + numpy): RGB gradient
    pixel (x, y) = (R, G, B) = ((seed+x)%256, (seed+y)%256, (seed+x+y)%256),
    YCbCr conversion, Annex-K luma/chroma quant + Huffman tables,
    interleaved MCUs — 4:4:4 by default, 4:2:0 (2x2-averaged chroma) with
    subsample=True."""
    import numpy as np

    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    r = ((seed + x) % 256) + 0.0 * y
    g = ((seed + y) % 256) + 0.0 * x
    b = (seed + x + y) % 256 + 0.0
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    hs = vs = 2 if subsample else 1
    mcu_w, mcu_h = 8 * hs, 8 * vs
    mcux = (width + mcu_w - 1) // mcu_w
    mcuy = (height + mcu_h - 1) // mcu_h
    ypad = _pad_to_blocks(yy, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        # pad chroma to even dims, then 2x2 box-average
        cpadw, cpadh = mcux * 8 * 2, mcuy * 8 * 2
        cbp = _pad_to_blocks(cb, cpadh, cpadw)
        crp = _pad_to_blocks(cr, cpadh, cpadw)
        cbs = cbp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
        crs = crp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
    else:
        cbs = _pad_to_blocks(cb, mcuy * 8, mcux * 8)
        crs = _pad_to_blocks(cr, mcuy * 8, mcux * 8)
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    ql = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_l = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_l = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    dc_c = _huffman_encode_table(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS)
    ac_c = _huffman_encode_table(JPEG_AC_CHROMA_BITS, JPEG_AC_CHROMA_VALS)
    bw_out = _BitWriter()
    preds = [0, 0, 0]
    for mi in range(mcuy * mcux):
        my, mx = divmod(mi, mcux)
        for v in range(vs):
            for hblk in range(hs):
                y0, x0 = (my * vs + v) * 8, (mx * hs + hblk) * 8
                seq = _quantized_zigzag(
                    ypad[y0 : y0 + 8, x0 : x0 + 8], m, ql, zz
                )
                preds[0] = _encode_block(bw_out, seq, preds[0], dc_l, ac_l)
        for ci, plane in ((1, cbs), (2, crs)):
            y0, x0 = my * 8, mx * 8
            seq = _quantized_zigzag(plane[y0 : y0 + 8, x0 : x0 + 8], m, qc, zz)
            preds[ci] = _encode_block(bw_out, seq, preds[ci], dc_c, ac_c)
    bw_out.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_l = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    qt_c = bytes(JPEG_QTABLE_CHROMA[zz[k]] for k in range(64))
    samp = 0x22 if subsample else 0x11
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_l + b"\x01" + qt_c)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(
        0xC4, b"\x01" + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
    )
    out += seg(
        0xC4, b"\x11" + bytes(JPEG_AC_CHROMA_BITS) + bytes(JPEG_AC_CHROMA_VALS)
    )
    out += seg(0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")
    out += bw_out.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color_sampled(
    width: int, height: int, seed: int, hs: int = 2, vs: int = 2,
    ch: int = 1, cv: int = 1,
) -> bytes:
    """Baseline color JPEG with ARBITRARY luma sampling factors hs x vs
    in {1..4} and chroma factors ch x cv (default 1x1): generalizes
    encode_jpeg_color's 4:4:4 / 4:2:0 pair to the other real layouts —
    4:2:2 (2x1), 4:4:0 (1x2), 4:1:1 (4x1) — AND to FRACTIONAL-ratio
    layouts (e.g. luma 4x1 with chroma 3x1, a T.81-legal 4:3 ratio).
    With ch=cv=1 chroma is box-averaged over the hs x vs footprint
    (byte-identical to the pre-fractional encoder); other chroma factors
    use the nearest-neighbor subsample matching the decoder's index map.
    Pixels and Huffman/quant tables match encode_jpeg_color exactly, so
    a constant-chroma source reconstructs bit-identically across every
    sampling choice (tested)."""
    import numpy as np

    if not (1 <= hs <= 4 and 1 <= vs <= 4):
        raise ValueError("luma sampling factors must be 1-4")
    if not (1 <= ch <= hs and 1 <= cv <= vs):
        raise ValueError("chroma factors must be 1..luma factor")
    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    r = ((seed + x) % 256) + 0.0 * y
    g = ((seed + y) % 256) + 0.0 * x
    b = (seed + x + y) % 256 + 0.0
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    mcux = (width + 8 * hs - 1) // (8 * hs)
    mcuy = (height + 8 * vs - 1) // (8 * vs)
    ypad = _pad_to_blocks(yy, mcuy * vs * 8, mcux * hs * 8)
    if (ch, cv) == (1, 1):
        cpadw, cpadh = mcux * 8 * hs, mcuy * 8 * vs
        cbs = _pad_to_blocks(cb, cpadh, cpadw)
        crs = _pad_to_blocks(cr, cpadh, cpadw)
        if hs > 1 or vs > 1:
            cbs = cbs.reshape(cpadh // vs, vs, cpadw // hs, hs).mean(axis=(1, 3))
            crs = crs.reshape(cpadh // vs, vs, cpadw // hs, hs).mean(axis=(1, 3))
    else:
        # general chroma grid: component dims ceil(width*ch/hs) x
        # ceil(height*cv/vs) (T.81 A.1.1), nearest-neighbor sampled with
        # the inverse of the decoder's upsampling index map
        cw = (width * ch + hs - 1) // hs
        chh = (height * cv + vs - 1) // vs
        xi = np.minimum((np.arange(cw) * hs) // ch, width - 1)
        yi = np.minimum((np.arange(chh) * vs) // cv, height - 1)
        cbs = _pad_to_blocks(cb[np.ix_(yi, xi)], mcuy * 8 * cv, mcux * 8 * ch)
        crs = _pad_to_blocks(cr[np.ix_(yi, xi)], mcuy * 8 * cv, mcux * 8 * ch)
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    ql = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_l = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_l = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    dc_c = _huffman_encode_table(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS)
    ac_c = _huffman_encode_table(JPEG_AC_CHROMA_BITS, JPEG_AC_CHROMA_VALS)
    bw_out = _BitWriter()
    preds = [0, 0, 0]
    for mi in range(mcuy * mcux):
        my, mx = divmod(mi, mcux)
        for v in range(vs):
            for hblk in range(hs):
                y0, x0 = (my * vs + v) * 8, (mx * hs + hblk) * 8
                seq = _quantized_zigzag(
                    ypad[y0 : y0 + 8, x0 : x0 + 8], m, ql, zz
                )
                preds[0] = _encode_block(bw_out, seq, preds[0], dc_l, ac_l)
        for ci, plane in ((1, cbs), (2, crs)):
            for cy in range(cv):
                for cx in range(ch):
                    y0, x0 = (my * cv + cy) * 8, (mx * ch + cx) * 8
                    seq = _quantized_zigzag(
                        plane[y0 : y0 + 8, x0 : x0 + 8], m, qc, zz
                    )
                    preds[ci] = _encode_block(bw_out, seq, preds[ci], dc_c, ac_c)
    bw_out.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_l = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    qt_c = bytes(JPEG_QTABLE_CHROMA[zz[k]] for k in range(64))
    samp = (hs << 4) | vs
    csamp = (ch << 4) | cv
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_l + b"\x01" + qt_c)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp, 0, 2, csamp, 1, 3, csamp, 1]),
    )
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(
        0xC4, b"\x01" + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
    )
    out += seg(
        0xC4, b"\x11" + bytes(JPEG_AC_CHROMA_BITS) + bytes(JPEG_AC_CHROMA_VALS)
    )
    out += seg(0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")
    out += bw_out.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive_color(
    width: int, height: int, seed: int, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL progressive COLOR JPEG (SOF2, spectral selection):
    the same pixels/quantized coefficients as encode_jpeg_color, shipped
    as an INTERLEAVED DC scan (MCU order, per-component predictors)
    followed by per-component AC band scans (AC scans are single-
    component by spec). restart_interval > 0 emits DRI + RSTn every that
    many restart units (frame MCUs in the interleaved DC scan, blocks in
    the AC scans). Decodes to byte-identical pixels as the baseline
    color encoder for the same source — pinned in tests."""
    import numpy as np

    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    r = ((seed + x) % 256) + 0.0 * y
    g = ((seed + y) % 256) + 0.0 * x
    b = (seed + x + y) % 256 + 0.0
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    hs = vs = 2 if subsample else 1
    mcux = (width + 8 * hs - 1) // (8 * hs)
    mcuy = (height + 8 * vs - 1) // (8 * vs)
    ypad = _pad_to_blocks(yy, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        cpadw, cpadh = mcux * 8 * 2, mcuy * 8 * 2
        cbp = _pad_to_blocks(cb, cpadh, cpadw)
        crp = _pad_to_blocks(cr, cpadh, cpadw)
        cbs = cbp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
        crs = crp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
    else:
        cbs = _pad_to_blocks(cb, mcuy * 8, mcux * 8)
        crs = _pad_to_blocks(cr, mcuy * 8, mcux * 8)
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    ql = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)

    def blocks_of(plane, rows, cols, q):
        return [
            _quantized_zigzag(
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], m, q, zz
            )
            for by in range(rows)
            for bx in range(cols)
        ]

    comp_blocks = [
        blocks_of(ypad, mcuy * vs, mcux * hs, ql),
        blocks_of(cbs, mcuy, mcux, qc),
        blocks_of(crs, mcuy, mcux, qc),
    ]
    comp_geom = [(vs, hs, mcux * hs), (1, 1, mcux), (1, 1, mcux)]
    dc_l = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_l = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    dc_c = _huffman_encode_table(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS)
    ac_c = _huffman_encode_table(JPEG_AC_CHROMA_BITS, JPEG_AC_CHROMA_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_l = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    qt_c = bytes(JPEG_QTABLE_CHROMA[zz[k]] for k in range(64))
    samp = 0x22 if subsample else 0x11
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_l + b"\x01" + qt_c)
    out += seg(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(
        0xC4, b"\x01" + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
    )
    out += seg(
        0xC4, b"\x11" + bytes(JPEG_AC_CHROMA_BITS) + bytes(JPEG_AC_CHROMA_VALS)
    )

    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    # interleaved DC scan: MCU order, per-component predictors; restart
    # every `restart_interval` MCUs (predictor reset + byte-align + RSTn)
    body = bytearray()
    bw_out = _BitWriter()
    preds = [0, 0, 0]
    n_since = 0
    rst = 0
    dc_tabs = [dc_l, dc_c, dc_c]
    for mi in range(mcuy * mcux):
        if restart_interval and n_since == restart_interval:
            bw_out.flush()
            body += bw_out.out
            body += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bw_out = _BitWriter()
            preds = [0, 0, 0]
            n_since = 0
        my, mx = divmod(mi, mcux)
        for ci in range(3):
            cvs, chs, cols = comp_geom[ci]
            for v in range(cvs):
                for hblk in range(chs):
                    bi = (my * cvs + v) * cols + mx * chs + hblk
                    dc = comp_blocks[ci][bi][0]
                    diff = dc - preds[ci]
                    size, bits_v = _magnitude(diff)
                    code, ln = dc_tabs[ci][size]
                    bw_out.write(code, ln)
                    if size:
                        bw_out.write(bits_v, size)
                    preds[ci] = dc
        n_since += 1
    bw_out.flush()
    body += bw_out.out
    out += seg(
        0xDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 0, 0])
    ) + body

    # per-component AC band scans (single-component by spec)
    ac_tabs = [ac_l, ac_c, ac_c]
    for ss, se_band in PROGRESSIVE_BANDS:
        for ci, cid in enumerate((1, 2, 3)):
            ta = 0x00 if ci == 0 else 0x01
            out += seg(
                0xDA, b"\x01" + bytes([cid, ta, ss, se_band, 0])
            ) + _chunked_entropy(
                comp_blocks[ci], restart_interval,
                lambda bw, ch, ci=ci, ss=ss, se_band=se_band: _enc_ac_first(
                    bw, ch, ac_tabs[ci], ss, se_band, 0
                ),
            )

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color_noninterleaved(
    width: int, height: int, seed: int, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL non-interleaved multi-scan SEQUENTIAL color JPEG
    (SOF0 + one full DC+AC scan PER COMPONENT in raster order) — the
    third legal scan organization after interleaved-baseline and
    progressive. Same pixels as encode_jpeg_color; decode must match it
    bit-for-bit (tested). restart_interval > 0 emits a DRI segment and
    an RSTn marker (predictor reset, byte-aligned) every that many
    blocks within each scan."""
    import numpy as np

    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    r = ((seed + x) % 256) + 0.0 * y
    g = ((seed + y) % 256) + 0.0 * x
    b = (seed + x + y) % 256 + 0.0
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    hs = vs = 2 if subsample else 1
    mcux = (width + 8 * hs - 1) // (8 * hs)
    mcuy = (height + 8 * vs - 1) // (8 * vs)
    ypad = _pad_to_blocks(yy, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        cpadw, cpadh = mcux * 8 * 2, mcuy * 8 * 2
        cbp = _pad_to_blocks(cb, cpadh, cpadw)
        crp = _pad_to_blocks(cr, cpadh, cpadw)
        cbs = cbp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
        crs = crp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
    else:
        cbs = _pad_to_blocks(cb, mcuy * 8, mcux * 8)
        crs = _pad_to_blocks(cr, mcuy * 8, mcux * 8)
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    ql = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_l = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_l = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    dc_c = _huffman_encode_table(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS)
    ac_c = _huffman_encode_table(JPEG_AC_CHROMA_BITS, JPEG_AC_CHROMA_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_l = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    qt_c = bytes(JPEG_QTABLE_CHROMA[zz[k]] for k in range(64))
    samp = 0x22 if subsample else 0x11
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_l + b"\x01" + qt_c)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(
        0xC4, b"\x01" + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
    )
    out += seg(
        0xC4, b"\x11" + bytes(JPEG_AC_CHROMA_BITS) + bytes(JPEG_AC_CHROMA_VALS)
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    scans = [
        (1, ypad, mcuy * vs, mcux * hs, ql, dc_l, ac_l, 0x00),
        (2, cbs, mcuy, mcux, qc, dc_c, ac_c, 0x11),
        (3, crs, mcuy, mcux, qc, dc_c, ac_c, 0x11),
    ]
    for cid, plane, rows, cols, q, dct, act, tabsel in scans:
        body = bytearray()
        bw_out = _BitWriter()
        pred = 0
        n_since = 0
        rst = 0
        for by in range(rows):
            for bx in range(cols):
                if restart_interval and n_since == restart_interval:
                    bw_out.flush()
                    body += bw_out.out
                    body += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    bw_out = _BitWriter()
                    pred = 0
                    n_since = 0
                seq = _quantized_zigzag(
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], m, q, zz
                )
                pred = _encode_block(bw_out, seq, pred, dct, act)
                n_since += 1
        bw_out.flush()
        body += bw_out.out
        out += seg(0xDA, b"\x01" + bytes([cid, tabsel]) + b"\x00\x3f\x00")
        out += body
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color_partial(
    width: int, height: int, seed: int, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL partially-interleaved multi-scan SEQUENTIAL color
    JPEG (T.81 A.2.3): scan 1 interleaves components 1+2 (Y, Cb) in MCU
    order on the frame grid; scan 2 carries component 3 (Cr) alone in
    raster order — the fourth legal scan organization (a scan listing 2
    of 3 components). Same pixels as encode_jpeg_color; decode must
    match it bit-for-bit (tested). restart_interval > 0 emits DRI + RSTn
    every that many restart units (frame MCUs in scan 1, blocks in
    scan 2), predictors reset and byte-aligned."""
    import numpy as np

    x = np.arange(width)[None, :]
    y = np.arange(height)[:, None]
    r = ((seed + x) % 256) + 0.0 * y
    g = ((seed + y) % 256) + 0.0 * x
    b = (seed + x + y) % 256 + 0.0
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    hs = vs = 2 if subsample else 1
    mcux = (width + 8 * hs - 1) // (8 * hs)
    mcuy = (height + 8 * vs - 1) // (8 * vs)
    ypad = _pad_to_blocks(yy, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        cpadw, cpadh = mcux * 8 * 2, mcuy * 8 * 2
        cbp = _pad_to_blocks(cb, cpadh, cpadw)
        crp = _pad_to_blocks(cr, cpadh, cpadw)
        cbs = cbp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
        crs = crp.reshape(cpadh // 2, 2, cpadw // 2, 2).mean(axis=(1, 3))
    else:
        cbs = _pad_to_blocks(cb, mcuy * 8, mcux * 8)
        crs = _pad_to_blocks(cr, mcuy * 8, mcux * 8)
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    ql = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    qc = np.array(JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    dc_l = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_l = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    dc_c = _huffman_encode_table(JPEG_DC_CHROMA_BITS, JPEG_DC_CHROMA_VALS)
    ac_c = _huffman_encode_table(JPEG_AC_CHROMA_BITS, JPEG_AC_CHROMA_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_l = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    qt_c = bytes(JPEG_QTABLE_CHROMA[zz[k]] for k in range(64))
    samp = 0x22 if subsample else 0x11
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_l + b"\x01" + qt_c)
    out += seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, samp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(
        0xC4, b"\x01" + bytes(JPEG_DC_CHROMA_BITS) + bytes(JPEG_DC_CHROMA_VALS)
    )
    out += seg(
        0xC4, b"\x11" + bytes(JPEG_AC_CHROMA_BITS) + bytes(JPEG_AC_CHROMA_VALS)
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    # scan 1: Y + Cb interleaved in MCU order on the frame grid
    body = bytearray()
    bw_out = _BitWriter()
    preds = [0, 0]
    n_since = 0
    rst = 0
    geom = [
        (ypad, vs, hs, mcux * hs, ql, dc_l, ac_l),
        (cbs, 1, 1, mcux, qc, dc_c, ac_c),
    ]
    for mi in range(mcuy * mcux):
        if restart_interval and n_since == restart_interval:
            bw_out.flush()
            body += bw_out.out
            body += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bw_out = _BitWriter()
            preds = [0, 0]
            n_since = 0
        my, mx = divmod(mi, mcux)
        for ci, (plane, cvs, chs, cols, q, dct, act) in enumerate(geom):
            for v in range(cvs):
                for hblk in range(chs):
                    y0 = (my * cvs + v) * 8
                    x0 = (mx * chs + hblk) * 8
                    seq = _quantized_zigzag(
                        plane[y0 : y0 + 8, x0 : x0 + 8], m, q, zz
                    )
                    preds[ci] = _encode_block(
                        bw_out, seq, preds[ci], dct, act
                    )
        n_since += 1
    bw_out.flush()
    body += bw_out.out
    out += seg(
        0xDA, b"\x02" + bytes([1, 0x00, 2, 0x11]) + b"\x00\x3f\x00"
    )
    out += body
    # scan 2: Cr alone in raster order
    body = bytearray()
    bw_out = _BitWriter()
    pred = 0
    n_since = 0
    rst = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and n_since == restart_interval:
                bw_out.flush()
                body += bw_out.out
                body += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw_out = _BitWriter()
                pred = 0
                n_since = 0
            seq = _quantized_zigzag(
                crs[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], m, qc, zz
            )
            pred = _encode_block(bw_out, seq, pred, dc_c, ac_c)
            n_since += 1
    bw_out.flush()
    body += bw_out.out
    out += seg(0xDA, b"\x01" + bytes([3, 0x11]) + b"\x00\x3f\x00")
    out += body
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg(width: int, height: int, seed: int) -> bytes:
    """Minimal REAL baseline grayscale JPEG (stdlib + numpy): pixel (x, y)
    = (seed + x + y) % 256, 8x8 forward DCT, Annex-K quantization and
    Huffman tables, proper byte stuffing. Lossy by nature — decode
    fidelity is pinned by tolerance in tests, while the header fields
    (dimensions) stay exact for the SQL oracle."""
    import numpy as np

    img = np.fromfunction(
        lambda y, x: (seed + x + y) % 256, (height, width), dtype=np.int64
    ).astype(np.float64)
    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = _pad_to_blocks(img, bh * 8, bw * 8)
    m = _dct_matrix()
    q = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    dc_tab = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_tab = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)
    bw_out = _BitWriter()
    prev_dc = 0
    zz = JPEG_ZIGZAG
    for by in range(bh):
        for bx in range(bw):
            seq = _quantized_zigzag(
                padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], m, q, zz
            )
            prev_dc = _encode_block(bw_out, seq, prev_dc, dc_tab, ac_tab)
    bw_out.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    # DQT stores the table in zigzag order: entry k of the segment is the
    # quantizer for zigzag position k
    qt_zz = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xDB, b"\x00" + qt_zz)  # DQT, table 0, 8-bit
    out += seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
    out += seg(
        0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
    )  # DHT DC table 0
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS: 1 comp, tables 0/0
    out += bw_out.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                elif 0xD0 <= nxt <= 0xD7:
                    raise _RestartMarker(nxt)
                else:
                    raise ValueError(f"unexpected marker 0xff{nxt:02x} in scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _huff_read(reader: "_BitReader", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _decode_block(reader: "_BitReader", dc_tab: dict, ac_tab: dict,
                  prev_dc: int) -> tuple[list[int], int]:
    """One 8x8 block's zigzag coefficient sequence + updated DC predictor."""
    size = _huff_read(reader, dc_tab)
    diff = _extend(reader.read_bits(size), size)
    dc = prev_dc + diff
    seq = [0] * 64
    seq[0] = dc
    k = 1
    while k < 64:
        sym = _huff_read(reader, ac_tab)
        if sym == 0x00:  # EOB
            break
        run, sz = sym >> 4, sym & 0x0F
        if sz == 0:
            if run != 15:
                raise ValueError("invalid JPEG AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k >= 64:
            raise ValueError("JPEG AC run overflows block")
        seq[k] = _extend(reader.read_bits(sz), sz)
        k += 1
    return seq, dc


def decode_jpeg(payload: bytes) -> dict:
    """REAL decoder for baseline sequential JPEG (stdlib + numpy):
    grayscale AND interleaved color — 4:4:4 and subsampled (4:2:0/4:2:2)
    MCU layouts with per-component quant/Huffman tables, byte unstuffing,
    restart markers, chroma upsampling, and YCbCr→RGB — plus PROGRESSIVE
    (SOF2) decode for grayscale (spectral selection AND successive
    approximation) and interleaved color (interleaved DC scans in MCU
    order, per-component AC band scans, 4:4:4 and 4:2:0): multi-scan coefficient accumulation (DC first/refine
    bit scans, AC band scans with EOB-run semantics, G.1.2.3 AC
    refinement walks), reconstructed in one final IDCT pass. Width/height
    come from the actual SOF bytes; feature = first FEATURE_DIM
    reconstructed top-row bytes (gray values, or interleaved RGB for
    color) scaled to [0,1]. Lossy — pixel fidelity is pinned by tolerance
    in tests, exact header fields by the SQL oracle.

    Every legal T.81 scan organization decodes: full-interleave,
    one-component-per-scan, and partially-interleaved sequential;
    progressive with any scan script; restart markers in all of them;
    all sampling factors 1-4 including FRACTIONAL ratios (a 3-sampled
    component against an hmax/vmax of 4, reconstructed by the
    nearest-neighbor index map — see _upsample_plane). Raises ValueError
    for corrupt streams."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    components: list[tuple[int, int, int, int]] = []  # (id, hs, vs, tq)
    restart_interval = 0
    progressive = False
    coef_store = None  # progressive: per-component block coefficient arrays
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1  # fill byte before a marker (legal padding)
            continue
        if marker == 0xD9:
            if coef_store is not None:
                # progressive OR non-interleaved sequential: all scans
                # accumulated; reconstruct now
                return _reconstruct_progressive(
                    coef_store, width, height, components, qtables
                )
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                n = 64 * (2 if pq else 1)
                raw = body[i + 1 : i + 1 + n]
                if len(raw) < n:
                    raise ValueError("truncated JPEG DQT")
                if pq:
                    vals = [v for (v,) in struct.iter_unpack(">H", raw)]
                else:
                    vals = list(raw)
                # segment stores zigzag order -> natural order table
                nat = [0] * 64
                for k in range(64):
                    nat[JPEG_ZIGZAG[k]] = vals[k]
                qtables[tq] = nat
                i += 1 + n
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                if len(bits) < 16:
                    raise ValueError("truncated JPEG DHT bit-count table")
                nvals = sum(bits)
                vals = list(body[i + 17 : i + 17 + nvals])
                if len(vals) < nvals:
                    raise ValueError("truncated JPEG DHT")
                tab = _huffman_decode_table(bits, vals)
                (dc_tables if tc == 0 else ac_tables)[th] = tab
                i += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF")
            precision, height, width, ncomp = struct.unpack_from(">BHHB", body)
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated JPEG SOF")
            components = [
                (
                    body[6 + 3 * c],
                    body[7 + 3 * c] >> 4,
                    body[7 + 3 * c] & 0x0F,
                    body[8 + 3 * c],
                )
                for c in range(ncomp)
            ]
            if marker == 0xC2:
                progressive = True
                if width * height > (1 << 26):
                    raise ValueError(
                        f"implausible JPEG dimensions {width}x{height}"
                        " (corrupt header?)"
                    )
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI")
            (restart_interval,) = struct.unpack_from(">H", body)
        elif marker == 0xDA:
            if not body:
                raise ValueError("truncated JPEG SOS")
            ncomp_s = body[0]
            if len(body) < 1 + 2 * ncomp_s + 3:
                raise ValueError("truncated JPEG SOS component list")
            if not components:
                raise ValueError("JPEG SOS before SOF")
            scan_start = pos + 2 + length
            if progressive:
                import numpy as np

                mcux, mcuy, grids = _mcu_geometry(components, width, height)
                if coef_store is None:
                    coef_store = [
                        np.zeros((r * c, 64), dtype=np.int64)
                        for r, c in grids
                    ]
                cid_to_idx = {
                    cid: i for i, (cid, _, _, _) in enumerate(components)
                }
                scan_comps = []  # (comp_idx, td, ta) in scan order
                for c in range(ncomp_s):
                    cid = body[1 + 2 * c]
                    if cid not in cid_to_idx:
                        raise ValueError(
                            "JPEG scan references unknown component"
                        )
                    scan_comps.append(
                        (
                            cid_to_idx[cid],
                            body[2 + 2 * c] >> 4,
                            body[2 + 2 * c] & 0x0F,
                        )
                    )
                ss, se = body[1 + 2 * ncomp_s], body[2 + 2 * ncomp_s]
                ahal = body[3 + 2 * ncomp_s]
                ah, al = ahal >> 4, ahal & 0x0F
                reader = _BitReader(payload[scan_start:])

                _p_rst_exp = [0]

                def _p_expect_restart():
                    # byte-align; the next marker MUST be RSTn (T.81
                    # E.2.4 — restart resets DC predictors and, for AC
                    # scans, the EOB run) with the EXPECTED modulo-8
                    # sequence number — a dropped/duplicated restart
                    # interval must quarantine, not decode with
                    # misplaced blocks (E.1.2 resync)
                    reader.n = 0
                    try:
                        reader.read_bit()
                    except _RestartMarker as rm:
                        if rm.marker - 0xD0 != _p_rst_exp[0]:
                            raise ValueError(
                                "JPEG restart marker out of sequence"
                            ) from rm
                        _p_rst_exp[0] = (_p_rst_exp[0] + 1) % 8
                        reader.pos += 1
                        reader.n = 0
                    else:
                        raise ValueError("expected JPEG restart marker")

                try:
                    if ss == 0:
                        if se != 0:
                            raise ValueError(
                                "progressive DC scan must have Se=0"
                            )
                        # traversal: interleaved MCU order when the scan
                        # lists >1 component, else that component's raster
                        if len(scan_comps) > 1:
                            if len(scan_comps) != len(components):
                                raise ValueError(
                                    "interleaved DC scan must list all"
                                    " components"
                                )

                            def dc_blocks():
                                # yields (restart_unit, ci, td, bi): the
                                # restart unit is the frame MCU
                                for mi in range(mcuy * mcux):
                                    my, mx = divmod(mi, mcux)
                                    for ci, td, _ in scan_comps:
                                        _, hs, vs, _ = components[ci]
                                        _, cols = grids[ci]
                                        for v in range(vs):
                                            for hblk in range(hs):
                                                yield mi, ci, td, (
                                                    (my * vs + v) * cols
                                                    + mx * hs
                                                    + hblk
                                                )
                        else:

                            def dc_blocks():
                                # single-component scan: unit = block
                                ci, td, _ = scan_comps[0]
                                rows, cols = grids[ci]
                                for bi in range(rows * cols):
                                    yield bi, ci, td, bi

                        if ah == 0:
                            preds = [0] * len(components)
                            n_done, last_unit = 0, None
                            for unit, ci, td, bi in dc_blocks():
                                if unit != last_unit:
                                    if last_unit is not None:
                                        n_done += 1
                                        if (
                                            restart_interval
                                            and n_done == restart_interval
                                        ):
                                            _p_expect_restart()
                                            preds = [0] * len(components)
                                            n_done = 0
                                    last_unit = unit
                                dc_tab = dc_tables.get(td)
                                if dc_tab is None:
                                    raise ValueError(
                                        "JPEG DC scan before DHT"
                                    )
                                size = _huff_read(reader, dc_tab)
                                preds[ci] += _extend(
                                    reader.read_bits(size), size
                                )
                                coef_store[ci][bi, 0] = preds[ci] << al
                        else:
                            # DC refinement: one bit per block adds the
                            # next magnitude bit (two's-complement OR is
                            # exact for negatives: (v>>1)<<1 | (v&1) == v);
                            # a restart here only byte-aligns (no
                            # predictors in a refinement scan)
                            n_done, last_unit = 0, None
                            for unit, ci, _, bi in dc_blocks():
                                if unit != last_unit:
                                    if last_unit is not None:
                                        n_done += 1
                                        if (
                                            restart_interval
                                            and n_done == restart_interval
                                        ):
                                            _p_expect_restart()
                                            n_done = 0
                                    last_unit = unit
                                if reader.read_bit():
                                    coef_store[ci][bi, 0] |= 1 << al
                    elif ah == 0:
                        if se < ss or se > 63:
                            raise ValueError("invalid progressive band")
                        if len(scan_comps) != 1:
                            raise ValueError(
                                "progressive AC scans are single-component"
                            )
                        ci, _, ta = scan_comps[0]
                        rows, cols = grids[ci]
                        store = coef_store[ci]
                        ac_tab = ac_tables.get(ta)
                        if ac_tab is None:
                            raise ValueError("JPEG AC scan before DHT")
                        eobrun = 0
                        for bi in range(rows * cols):
                            if (
                                restart_interval
                                and bi
                                and bi % restart_interval == 0
                            ):
                                _p_expect_restart()
                                eobrun = 0
                            if eobrun > 0:
                                eobrun -= 1
                                continue
                            k = ss
                            while k <= se:
                                sym = _huff_read(reader, ac_tab)
                                run, sz = sym >> 4, sym & 0x0F
                                if sz == 0:
                                    if run == 15:
                                        k += 16  # ZRL
                                        continue
                                    eobrun = (1 << run) - 1
                                    if run:
                                        eobrun += reader.read_bits(run)
                                    break
                                k += run
                                if k > se:
                                    raise ValueError(
                                        "JPEG AC run overflows band"
                                    )
                                store[bi, k] = (
                                    _extend(reader.read_bits(sz), sz) << al
                                )
                                k += 1
                    else:
                        # AC refinement (G.1.2.3): newly-significant
                        # coefficients arrive as +-(1<<Al); every nonzero-
                        # history coefficient passed over contributes one
                        # correction bit
                        if se < ss or se > 63:
                            raise ValueError("invalid progressive band")
                        if len(scan_comps) != 1:
                            raise ValueError(
                                "progressive AC scans are single-component"
                            )
                        ci, _, ta = scan_comps[0]
                        rows, cols = grids[ci]
                        coef_ref = coef_store[ci]
                        ac_tab = ac_tables.get(ta)
                        if ac_tab is None:
                            raise ValueError("JPEG AC scan before DHT")
                        p1, m1 = 1 << al, -(1 << al)

                        def _correct(bi, k):
                            c = coef_ref[bi, k]
                            if reader.read_bit() and not c & p1:
                                coef_ref[bi, k] = c + (p1 if c >= 0 else m1)

                        eobrun = 0
                        for bi in range(rows * cols):
                            if (
                                restart_interval
                                and bi
                                and bi % restart_interval == 0
                            ):
                                _p_expect_restart()
                                eobrun = 0
                            if eobrun > 0:
                                eobrun -= 1
                                for k in range(ss, se + 1):
                                    if coef_ref[bi, k]:
                                        _correct(bi, k)
                                continue
                            k = ss
                            while k <= se:
                                sym = _huff_read(reader, ac_tab)
                                run, sz = sym >> 4, sym & 0x0F
                                newval = 0
                                if sz == 0:
                                    if run != 15:
                                        eobrun = (1 << run) - 1
                                        if run:
                                            eobrun += reader.read_bits(run)
                                        for kk in range(k, se + 1):
                                            if coef_ref[bi, kk]:
                                                _correct(bi, kk)
                                        break
                                    # ZRL: pass 16 zero-history positions
                                elif sz == 1:
                                    newval = p1 if reader.read_bit() else m1
                                else:
                                    raise ValueError(
                                        "invalid refinement AC symbol"
                                    )
                                while k <= se:
                                    if coef_ref[bi, k]:
                                        _correct(bi, k)
                                    else:
                                        if run == 0:
                                            break
                                        run -= 1
                                    k += 1
                                if sz:
                                    if k > se:
                                        raise ValueError(
                                            "JPEG refinement overflows band"
                                        )
                                    coef_ref[bi, k] = newval
                                k += 1
                except _RestartMarker as rm:
                    raise ValueError(
                        "unexpected JPEG restart marker"
                    ) from rm
                pos = scan_start + reader.pos
                continue
            if ncomp_s != len(components):
                # multi-scan SEQUENTIAL file: a scan carries a SUBSET of
                # the frame's components — one component's full DC+AC
                # blocks in raster order (non-interleaved), or several
                # components interleaved in MCU order on the frame grid
                # (partially-interleaved, T.81 A.2.3). Coefficients
                # accumulate per component and the image reconstructs at
                # EOI — same store machinery as progressive. Restart
                # markers reset the DC predictors and byte-align every
                # `restart_interval` restart units (blocks for Ns=1,
                # frame MCUs for Ns>1).
                import numpy as np

                mcux_g, mcuy_g, grids = _mcu_geometry(
                    components, width, height
                )
                if coef_store is None:
                    coef_store = [
                        np.zeros((r * c, 64), dtype=np.int64)
                        for r, c in grids
                    ]
                cid_to_idx = {
                    cid: i for i, (cid, _, _, _) in enumerate(components)
                }
                scan_comps = []  # (comp_idx, dc_tab, ac_tab) in scan order
                for c in range(ncomp_s):
                    cid = body[1 + 2 * c]
                    if cid not in cid_to_idx:
                        raise ValueError(
                            "JPEG scan references unknown component"
                        )
                    td = body[2 + 2 * c] >> 4
                    ta = body[2 + 2 * c] & 0x0F
                    dc_tab = dc_tables.get(td)
                    ac_tab = ac_tables.get(ta)
                    if dc_tab is None or ac_tab is None:
                        raise ValueError("JPEG scan before DHT")
                    scan_comps.append((cid_to_idx[cid], dc_tab, ac_tab))
                reader = _BitReader(payload[scan_start:])

                _rst_exp = [0]

                def _expect_restart():
                    # byte-align, then the next marker MUST be RSTn with
                    # the expected modulo-8 sequence number (T.81 E.1.2)
                    reader.n = 0
                    try:
                        reader.read_bit()
                    except _RestartMarker as rm:
                        if rm.marker - 0xD0 != _rst_exp[0]:
                            raise ValueError(
                                "JPEG restart marker out of sequence"
                            ) from rm
                        _rst_exp[0] = (_rst_exp[0] + 1) % 8
                        reader.pos += 1  # consume the Dn byte
                        reader.n = 0
                    else:
                        raise ValueError("expected JPEG restart marker")

                n_since = 0
                try:
                    if ncomp_s == 1:
                        ci, dc_tab, ac_tab = scan_comps[0]
                        rows, cols = grids[ci]
                        store = coef_store[ci]
                        seq_pred = 0
                        for bi in range(rows * cols):
                            if (
                                restart_interval
                                and n_since == restart_interval
                            ):
                                _expect_restart()
                                seq_pred = 0
                                n_since = 0
                            seq, seq_pred = _decode_block(
                                reader, dc_tab, ac_tab, seq_pred
                            )
                            store[bi, :] = seq
                            n_since += 1
                    else:
                        # partially-interleaved: MCU order over the
                        # SCAN's components on the frame MCU grid, each
                        # contributing its hs x vs data units per MCU,
                        # with per-component DC predictors
                        preds = [0] * len(components)
                        for mi in range(mcuy_g * mcux_g):
                            if (
                                restart_interval
                                and n_since == restart_interval
                            ):
                                _expect_restart()
                                preds = [0] * len(components)
                                n_since = 0
                            my, mx = divmod(mi, mcux_g)
                            for ci, dc_tab, ac_tab in scan_comps:
                                _, hs, vs, _ = components[ci]
                                _, cols = grids[ci]
                                store = coef_store[ci]
                                for v in range(vs):
                                    for hblk in range(hs):
                                        bi = (
                                            (my * vs + v) * cols
                                            + mx * hs
                                            + hblk
                                        )
                                        seq, preds[ci] = _decode_block(
                                            reader, dc_tab, ac_tab,
                                            preds[ci],
                                        )
                                        store[bi, :] = seq
                            n_since += 1
                except _RestartMarker as rm:
                    raise ValueError(
                        "unexpected JPEG restart marker"
                    ) from rm
                pos = scan_start + reader.pos
                continue
            scan_tabs = {}
            for c in range(ncomp_s):
                cid = body[1 + 2 * c]
                scan_tabs[cid] = (body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
            return _decode_jpeg_scan(
                payload, scan_start, width, height, components, scan_tabs,
                qtables, dc_tables, ac_tables, restart_interval,
            )
        pos += 2 + length
    raise ValueError(
        "JPEG missing EOI (truncated stream)"
        if coef_store is not None
        else "JPEG missing SOS scan"
    )


def _decode_jpeg_scan(
    payload: bytes, scan_start: int, width, height, components, scan_tabs,
    qtables, dc_tables, ac_tables, restart_interval: int,
) -> dict:
    import numpy as np

    if width is None or not components:
        raise ValueError("JPEG scan before SOF")
    # the pixel planes are allocated from the DECLARED dimensions before
    # any entropy decoding, so a corrupt header must not drive a huge
    # allocation (65535x65535 -> 34 GB) — cap at 2^26 pixels (64 MP,
    # beyond any plausible crawl image) and quarantine the rest
    if width * height > (1 << 26):
        raise ValueError(
            f"implausible JPEG dimensions {width}x{height} (corrupt header?)"
        )
    hmax = max(hs for _, hs, _, _ in components)
    vmax = max(vs for _, _, vs, _ in components)
    if hmax < 1 or vmax < 1:
        # a zero sampling factor is never valid — corrupt header
        raise ValueError(f"invalid JPEG sampling factor {hmax}x{vmax}")
    if hmax > 4 or vmax > 4:
        # T.81 limits sampling factors to 1-4
        raise ValueError(f"invalid JPEG sampling factor {hmax}x{vmax}")
    single = len(components) == 1
    if single:
        # non-interleaved single-component scan: MCU = one block
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
    else:
        mcux = (width + 8 * hmax - 1) // (8 * hmax)
        mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    end = payload.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("JPEG missing EOI (truncated stream)")
    reader = _BitReader(payload[scan_start:end])
    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    planes = []
    per_comp = []
    for cid, hs, vs, tq in components:
        if single:
            hs = vs = 1  # sampling factors ignored in single-component scans
        qt = qtables.get(tq)
        if cid not in scan_tabs:
            raise ValueError("JPEG scan references unknown component")
        td, ta = scan_tabs[cid]
        dc_tab, ac_tab = dc_tables.get(td), ac_tables.get(ta)
        if qt is None or dc_tab is None or ac_tab is None:
            raise ValueError("JPEG scan before DQT/DHT")
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64))
        per_comp.append(
            {
                "hs": hs,
                "vs": vs,
                "q": np.array(qt, dtype=np.float64).reshape(8, 8),
                "dc_tab": dc_tab,
                "ac_tab": ac_tab,
                "pred": 0,
            }
        )
    n_since_restart = 0
    rst_expected = 0
    for mi in range(mcuy * mcux):
        if restart_interval and n_since_restart == restart_interval:
            reader.n = 0
            try:
                reader.read_bit()
            except _RestartMarker as rm:
                if rm.marker - 0xD0 != rst_expected:
                    # T.81 E.1.2: RSTn cycles 0-7; a sequence break means
                    # dropped/duplicated restart intervals — quarantine
                    raise ValueError(
                        "JPEG restart marker out of sequence"
                    ) from rm
                rst_expected = (rst_expected + 1) % 8
                reader.pos += 1
                reader.n = 0
                for pc in per_comp:
                    pc["pred"] = 0
                n_since_restart = 0
            else:
                raise ValueError("expected JPEG restart marker")
        my, mx = divmod(mi, mcux)
        try:
            for ci, pc in enumerate(per_comp):
                for v in range(pc["vs"]):
                    for hblk in range(pc["hs"]):
                        seq, pc["pred"] = _decode_block(
                            reader, pc["dc_tab"], pc["ac_tab"], pc["pred"]
                        )
                        block = np.zeros(64, dtype=np.float64)
                        for i in range(64):
                            block[zz[i]] = seq[i]
                        pix = (
                            m.T @ (block.reshape(8, 8) * pc["q"]) @ m + 128.0
                        )
                        y0 = (my * pc["vs"] + v) * 8
                        x0 = (mx * pc["hs"] + hblk) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
        except _RestartMarker as rm:
            raise ValueError("unexpected JPEG restart marker") from rm
        n_since_restart += 1
    # upsample each plane to full resolution + crop: nearest-neighbor
    # index map src = dst * comp_factor // max_factor (T.81 A.1.1 sample
    # geometry) — reduces exactly to replication+crop for integer ratios
    # and handles fractional ones (e.g. chroma 3 against luma 4)
    full = []
    for pc, plane in zip(per_comp, planes):
        full.append(_upsample_plane(plane, pc["hs"], pc["vs"],
                                    hmax, vmax, width, height))
    if len(full) == 1:
        img = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        pix_bytes = img[0, :FEATURE_DIM].tolist()
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        img = np.clip(
            np.round(np.stack([r, g, b], axis=-1)), 0, 255
        ).astype(np.uint8)
        pix_bytes = img[0].reshape(-1)[:FEATURE_DIM].tolist()
    feature = [v / 255.0 for v in pix_bytes] + [0.0] * (
        FEATURE_DIM - len(pix_bytes)
    )
    return {
        "width": width,
        "height": height,
        "n_frames": 1,
        "feature": feature,
        "pixels": img,
    }


def _upsample_plane(plane, hs, vs, hmax, vmax, width, height):
    """Nearest-neighbor upsample of a component plane to full image
    resolution and crop: dst (y, x) reads src (y*vs//vmax, x*hs//hmax).
    For integer ratios this is exactly replication + crop; for fractional
    sampling layouts (a 3-sampled component against a 4-sampled one,
    T.81-legal) it is the standard nearest-neighbor reconstruction."""
    import numpy as np

    if hs == hmax and vs == vmax:
        return plane[:height, :width]
    yi = (np.arange(height) * vs) // vmax
    xi = (np.arange(width) * hs) // hmax
    return plane[np.ix_(yi, xi)]


def _mcu_geometry(components, width, height):
    """(mcux, mcuy, per-component (rows, cols) block grids)."""
    hmax = max(h for _, h, _, _ in components)
    vmax = max(v for _, _, v, _ in components)
    if hmax < 1 or vmax < 1:
        raise ValueError("invalid JPEG sampling factor")
    if hmax > 4 or vmax > 4:
        raise ValueError(f"invalid JPEG sampling factor {hmax}x{vmax}")
    if len(components) == 1:
        # single-component images ignore sampling factors
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
        return mcux, mcuy, [(mcuy, mcux)]
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    return mcux, mcuy, [
        (mcuy * vs, mcux * hs) for _, hs, vs, _ in components
    ]


def _reconstruct_progressive(coef_store, width, height, components, qtables):
    """Final IDCT pass for a progressive JPEG: all scans have accumulated
    into per-component per-block zigzag coefficient stores; dequantize +
    IDCT each block, assemble planes, upsample chroma, crop, and (for
    three components) convert YCbCr->RGB — the same tail as the baseline
    decoder."""
    import numpy as np

    m = _dct_matrix()
    zz = JPEG_ZIGZAG
    hmax = max(h for _, h, _, _ in components)
    vmax = max(v for _, _, v, _ in components)
    single = len(components) == 1
    if single:
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
    else:
        mcux = (width + 8 * hmax - 1) // (8 * hmax)
        mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    full = []
    for ci, (cid, hs, vs, tq) in enumerate(components):
        if single:
            hs = vs = 1
            rows, cols = mcuy, mcux
        else:
            rows, cols = mcuy * vs, mcux * hs
        qt = qtables.get(tq)
        if qt is None:
            raise ValueError("progressive JPEG missing DQT")
        q = np.array(qt, dtype=np.float64).reshape(8, 8)
        plane = np.zeros((rows * 8, cols * 8), dtype=np.float64)
        store = coef_store[ci]
        for bi in range(rows * cols):
            by, bx = divmod(bi, cols)
            block = np.zeros(64, dtype=np.float64)
            seq = store[bi]
            for i in range(64):
                block[zz[i]] = seq[i]
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                m.T @ (block.reshape(8, 8) * q) @ m + 128.0
            )
        if single:
            full.append(plane[:height, :width])
        else:
            full.append(
                _upsample_plane(plane, hs, vs, hmax, vmax, width, height)
            )
    if len(full) == 1:
        img = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        pix_bytes = img[0, :FEATURE_DIM].tolist()
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        img = np.clip(
            np.round(np.stack([r, g, b], axis=-1)), 0, 255
        ).astype(np.uint8)
        pix_bytes = img[0].reshape(-1)[:FEATURE_DIM].tolist()
    feature = [v / 255.0 for v in pix_bytes] + [0.0] * (
        FEATURE_DIM - len(pix_bytes)
    )
    return {
        "width": width,
        "height": height,
        "n_frames": 1,
        "feature": feature,
        "pixels": img,
    }


#: progressive scan script: DC, then AC split into two spectral bands —
#: the classic coarse-to-fine layout (spectral selection)
PROGRESSIVE_BANDS = ((1, 5), (6, 63))


def _chunked_entropy(blocks, restart_interval: int, enc_chunk) -> bytes:
    """Entropy segment for one progressive scan with optional restarts:
    every `restart_interval` blocks the stream byte-aligns and an RSTn
    marker (n cycling 0-7) is emitted; each chunk re-enters the encoder
    helper with fresh state (DC predictor 0, no pending EOB run) —
    exactly the reset the decoder performs at a restart."""
    if not restart_interval:
        bw = _BitWriter()
        enc_chunk(bw, blocks)
        bw.flush()
        return bytes(bw.out)
    body = bytearray()
    rst = 0
    for i in range(0, len(blocks), restart_interval):
        if i:
            body += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
        bw = _BitWriter()
        enc_chunk(bw, blocks[i : i + restart_interval])
        bw.flush()
        body += bw.out
    return bytes(body)


def _enc_dc_first(bw_out, blocks, dc_tab, al: int) -> None:
    """DC first scan: point-transformed (arithmetic shift) DC diff chain."""
    prev = 0
    for seq in blocks:
        v = seq[0] >> al
        diff = v - prev
        size, bits_v = _magnitude(diff)
        code, ln = dc_tab[size]
        bw_out.write(code, ln)
        if size:
            bw_out.write(bits_v, size)
        prev = v


def _enc_dc_refine(bw_out, blocks, al: int) -> None:
    """DC refinement: next magnitude bit of the two's-complement value."""
    for seq in blocks:
        bw_out.write((seq[0] >> al) & 1, 1)


def _enc_ac_first(bw_out, blocks, ac_tab, ss: int, se: int, al: int) -> None:
    """AC first scan for one band: magnitude point transform (sign *
    (|v| >> Al)), per-block EOB (an EOB-run of 1 is always legal)."""
    for seq in blocks:
        run = 0
        for i in range(ss, se + 1):
            t = seq[i]
            v = abs(t) >> al
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_tab[0xF0]
                bw_out.write(code, ln)
                run -= 16
            size, bits_v = _magnitude(v if t > 0 else -v)
            code, ln = ac_tab[(run << 4) | size]
            bw_out.write(code, ln)
            bw_out.write(bits_v, size)
            run = 0
        if run:
            code, ln = ac_tab[0x00]
            bw_out.write(code, ln)


def _enc_ac_refine(bw_out, blocks, ac_tab, ss: int, se: int, al: int) -> None:
    """AC refinement scan (G.1.2.3), emitted as the exact mirror of the
    decoder's walk: zero-run symbols count ZERO-HISTORY positions only;
    every nonzero-history coefficient passed over contributes one
    correction bit, interleaved positionally; newly-significant
    coefficients ((|v| >> Al) == 1) arrive with a sign bit."""
    for seq in blocks:
        def hist(i):
            return abs(seq[i]) >> (al + 1) != 0

        def newsig(i):
            return (abs(seq[i]) >> al) == 1 and not hist(i)

        def zerh(i):
            return (abs(seq[i]) >> al) == 0

        k = ss
        while True:
            n = next((j for j in range(k, se + 1) if newsig(j)), None)
            if n is None:
                rem = range(k, se + 1)
                corr = [i for i in rem if hist(i)]
                if corr or any(zerh(i) for i in rem):
                    code, ln = ac_tab[0x00]  # EOB covering just this block
                    bw_out.write(code, ln)
                    for i in corr:
                        bw_out.write((abs(seq[i]) >> al) & 1, 1)
                break
            r = sum(1 for i in range(k, n) if zerh(i))
            while r > 15:
                code, ln = ac_tab[0xF0]
                bw_out.write(code, ln)
                cnt = 0  # ZRL window: 16 zero-history, corrections ride
                while cnt < 16:
                    if hist(k):
                        bw_out.write((abs(seq[k]) >> al) & 1, 1)
                    elif zerh(k):
                        cnt += 1
                    k += 1
                r -= 16
            code, ln = ac_tab[(r << 4) | 1]
            bw_out.write(code, ln)
            bw_out.write(1 if seq[n] > 0 else 0, 1)
            while k < n:
                if hist(k):
                    bw_out.write((abs(seq[k]) >> al) & 1, 1)
                k += 1
            k = n + 1


def encode_jpeg_progressive(
    width: int, height: int, seed: int, levels: int = 0,
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL progressive grayscale JPEG (SOF2): the same quantized
    coefficients as encode_jpeg, shipped coarse-to-fine. levels=0 emits
    pure spectral selection (DC scan + two AC band scans at full
    precision); levels=N adds SUCCESSIVE APPROXIMATION — first scans at
    Al=N, then N refinement rounds (DC bit scans + G.1.2.3 AC correction
    scans) down to Al=0. restart_interval > 0 emits DRI + an RSTn every
    that many blocks in EVERY scan (restart units are blocks in
    single-component scans). Decoding MUST reproduce encode_jpeg's
    pixels bit-for-bit regardless of the script (same final
    coefficients, same IDCT) — pinned in tests."""
    import numpy as np

    img = np.fromfunction(
        lambda y, x: (seed + x + y) % 256, (height, width), dtype=np.int64
    ).astype(np.float64)
    bh, bwid = (height + 7) // 8, (width + 7) // 8
    padded = _pad_to_blocks(img, bh * 8, bwid * 8)
    m = _dct_matrix()
    q = np.array(JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    zz = JPEG_ZIGZAG
    blocks = [
        _quantized_zigzag(
            padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], m, q, zz
        )
        for by in range(bh)
        for bx in range(bwid)
    ]
    dc_tab = _huffman_encode_table(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_tab = _huffman_encode_table(JPEG_AC_BITS, JPEG_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    qt_zz = bytes(JPEG_QTABLE[zz[k]] for k in range(64))
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + qt_zz)
    out += seg(0xC2, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
    out += seg(0xC4, b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    ri = restart_interval
    al0 = levels
    out += sos(0, 0, 0, al0) + _chunked_entropy(
        blocks, ri, lambda bw, ch: _enc_dc_first(bw, ch, dc_tab, al0)
    )
    for ss, se in PROGRESSIVE_BANDS:
        out += sos(ss, se, 0, al0) + _chunked_entropy(
            blocks, ri,
            lambda bw, ch, ss=ss, se=se: _enc_ac_first(
                bw, ch, ac_tab, ss, se, al0
            ),
        )
    for a in range(al0 - 1, -1, -1):
        out += sos(0, 0, a + 1, a) + _chunked_entropy(
            blocks, ri, lambda bw, ch, a=a: _enc_dc_refine(bw, ch, a)
        )
        for ss, se in PROGRESSIVE_BANDS:
            out += sos(ss, se, a + 1, a) + _chunked_entropy(
                blocks, ri,
                lambda bw, ch, ss=ss, se=se, a=a: _enc_ac_refine(
                    bw, ch, ac_tab, ss, se, a
                ),
            )

    out += b"\xff\xd9"
    return bytes(out)


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """Decode an image payload to (width, height, feature vector).

    REAL for the five natively-decoded formats — BMP and P6 PPM
    (uncompressed header parses), PNG (zlib-inflated, CRC-checked,
    filter-inverted), GIF (full LZW decode, palette-mapped), and JPEG
    (baseline grayscale + interleaved color at 4:4:4/4:2:0, and
    progressive grayscale — spectral selection + successive
    approximation — and progressive interleaved color: Huffman entropy
    decode, dequantize, IDCT, YCbCr→RGB) — those parse the actual bytes.
    Exotic formats remain honest stubs: with fake=True a deterministic stand-in derives
    metadata purely from the bytes, keeping the distributed plumbing
    exercisable end-to-end; otherwise raise.
    """
    if not fake:
        if payload[:2] == b"BM":
            out = decode_bmp(payload)
            out.pop("bpp", None)
            return out
        if payload[:2] == b"P6":
            return decode_ppm(payload)
        if payload[:8] == PNG_SIG:
            return decode_png(payload)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(payload)
        if payload[:2] == b"\xff\xd8":
            out = decode_jpeg(payload)
            out.pop("pixels", None)
            return out
        # unrecognized magic on an UNTRUSTED blob is indistinguishable
        # from corruption (a bit-flipped BMP header lands here), so it is
        # a quarantine condition — ValueError, not NotImplementedError;
        # genuine codec gaps with VALID headers (progressive JPEG) still
        # raise NotImplementedError from their decoders
        raise ValueError(
            "unrecognized image magic (BMP/P6/PNG/GIF/baseline-JPEG "
            "decode natively)"
        )
    # fake=True: deterministic stand-in, even for payloads that happen to
    # start with a real magic — keeps the fake family's semantics uniform
    digest = hashlib.sha256(payload).digest()
    return {
        "width": 16 + digest[0] % 240,
        "height": 16 + digest[1] % 240,
        "n_frames": 1,
        "feature": [digest[i] / 255.0 for i in range(FEATURE_DIM)],
    }


def mulaw_expand(b: int) -> int:
    """ITU-T G.711 mu-law expansion: one companded byte -> linear 16-bit
    sample in [-32124, 32124]. Pure integer — any engine reproduces it."""
    u = ~b & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return -mag if u & 0x80 else mag


def alaw_expand(b: int) -> int:
    """ITU-T G.711 A-law expansion: one companded byte -> linear 16-bit
    sample in [-32256, 32256]. Pure integer (the classic alaw2linear
    segment table); sign bit SET means positive, the inverse of mu-law."""
    a = b ^ 0x55
    seg = (a >> 4) & 7
    mant = a & 0x0F
    if seg == 0:
        mag = (mant << 4) + 8
    else:
        mag = ((mant << 4) + 0x108) << (seg - 1)
    return mag if a & 0x80 else -mag


#: IMA/DVI ADPCM tables (public spec: IMA Digital Audio Focus and
#: Compatibility Committee, "Recommended Practices for Enhancing Digital
#: Audio Compatibility", rev 3.00 — the same tables every implementation
#: ships)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (predictor, index) x nibble ->
    (new predictor, new index). Pure integer; the delta uses the
    CANONICAL bit-serial expansion (step>>3 + per-bit truncated shifts),
    which differs from the ((2m+1)*step)>>3 shortcut under truncation —
    real decoders implement the bit-serial form."""
    step = IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + IMA_INDEX_TABLE[nibble]))
    return pred, index


def ima_adpcm_encode(
    samples: list[int], block_align: int = 256
) -> tuple[bytes, list[int]]:
    """IMA ADPCM mono encoder over 16-bit samples: returns (data-chunk
    bytes, the decoder-exact reconstruction). Each block: 4-byte header
    (int16 predictor = the block's first source sample, uint8 step index,
    reserved 0) + 2 samples/byte nibbles, low nibble first. The
    reconstruction list is what a spec decoder MUST produce for these
    bytes — pinned in tests against decode_wav."""
    spb = (block_align - 4) * 2 + 1  # samples per block, header carries #1
    out = bytearray()
    recon: list[int] = []
    index = 0
    for b0 in range(0, len(samples), spb):
        block = samples[b0 : b0 + spb]
        pred = max(-32768, min(32767, block[0]))
        out += struct.pack("<hBB", pred, index, 0)
        recon.append(pred)
        nibbles: list[int] = []
        for s in block[1:]:
            step = IMA_STEP_TABLE[index]
            delta = s - pred
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            # canonical bit-serial quantization (spec figure): mant bits
            # chosen so the decoder's ((2*mant+1)*step)>>3 best-matches
            mant = 0
            if delta >= step:
                mant |= 4
                delta -= step
            if delta >= step >> 1:
                mant |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                mant |= 1
            nib |= mant
            pred, index = _ima_step(pred, index, nib)
            recon.append(pred)
            nibbles.append(nib)
        # pad the final block's nibble stream to the full block size so
        # every block is exactly block_align bytes (decoder stops at the
        # declared sample count)
        nibbles += [0] * ((block_align - 4) * 2 - len(nibbles))
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out), recon


def encode_wav_adpcm(
    n_samples: int, seed: int, sample_rate: int = 8000,
    block_align: int = 256,
) -> bytes:
    """Minimal real IMA-ADPCM (format 0x11) mono WAV: source sample i is
    a deterministic 16-bit TRIANGLE wave (no discontinuities — ADPCM's
    step adaptation tracks it closely, so the fixture demonstrates real
    reconstruction, not just state-machine agreement); the fmt chunk
    carries the required cbSize=2 samples-per-block extension and a
    `fact` chunk declares the true sample count."""
    samples = []
    for i in range(n_samples):
        t = (seed + i) % 510
        v = t if t < 255 else 510 - t
        samples.append((v - 128) * 257)
    data, _ = ima_adpcm_encode(samples, block_align)
    spb = (block_align - 4) * 2 + 1
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        (sample_rate * block_align + spb - 1) // spb, block_align, 4,
        2, spb,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_samples)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(
    n_samples: int,
    seed: int,
    sample_rate: int = 8000,
    n_channels: int = 1,
    audio_format: int = 1,
) -> bytes:
    """Minimal real RIFF/WAVE file (stdlib-only): 8-bit samples, sample i
    of channel c = (seed + i + c) % 256 — interpreted as unsigned PCM
    (audio_format=1, the default), as G.711 A-law codes (audio_format=6),
    or as G.711 mu-law codes (audio_format=7; every byte is a valid code
    in both laws). Fixture generator for the real audio-decode round
    trip."""
    if audio_format not in (1, 6, 7):
        raise ValueError("encode_wav supports PCM (1), A-law (6), mu-law (7)")
    data = bytes(
        (seed + i + c) % 256 for i in range(n_samples) for c in range(n_channels)
    )
    block_align = n_channels  # 8-bit samples: one byte per channel-sample
    fmt = struct.pack(
        "<HHIIHH", audio_format, n_channels, sample_rate,
        sample_rate * block_align, block_align, 8,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes, want_samples: bool = False) -> dict:
    """REAL decoder for RIFF/WAVE audio (stdlib-only): walks the chunk
    list, parses the fmt chunk (format/channels/rate/bits), sizes the data
    chunk into a sample-frame count. Handles linear PCM (format 1),
    G.711 A-law (format 6) and mu-law (format 7) — each companded byte
    runs through the integer expansion curve — AND IMA/DVI ADPCM
    (format 0x11, mono): block headers seed the predictor/step-index
    state machine and every nibble advances it (the canonical bit-serial
    delta). Feature: PCM -> first FEATURE_DIM data bytes scaled to [0,1];
    companded/ADPCM -> first FEATURE_DIM EXPANDED samples mapped
    (x + 32768) / 65536 (exact in float32, so an oracle recovers the
    integer sample bit-for-bit). width=0, height=0, n_frames = frames.

    Raises ValueError for non-RIFF payloads, other compressed format
    tags (MP3/AAC-class), missing fmt/data chunks, stereo ADPCM, or a
    data chunk that overruns the payload — quarantine-path inputs."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    fact_samples = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + length > len(payload):
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if length < 16:
                raise ValueError("short WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif tag == b"data":
            data = payload[pos + 8 : pos + 8 + length]
        elif tag == b"fact" and length >= 4:
            (fact_samples,) = struct.unpack_from("<I", payload, pos + 8)
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format not in (1, 6, 7, 0x11):
        raise ValueError(f"compressed WAV (format {audio_format}) not supported")
    if audio_format in (6, 7) and bits != 8:
        raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
    if audio_format == 0x11:
        # IMA/DVI ADPCM: mono, 4-bit, block-structured
        if n_channels != 1:
            raise ValueError("stereo IMA-ADPCM WAV not supported")
        if bits != 4:
            raise ValueError(f"IMA-ADPCM WAV must be 4-bit, got {bits}")
        if block_align < 5:
            raise ValueError("IMA-ADPCM block too small")
        spb = (block_align - 4) * 2 + 1
        samples: list[int] = []
        for b0 in range(0, len(data), block_align):
            block = data[b0 : b0 + block_align]
            if len(block) < 4:
                raise ValueError("truncated IMA-ADPCM block header")
            (pred,) = struct.unpack_from("<h", block, 0)
            index = block[2]
            if index > 88:
                raise ValueError("IMA-ADPCM step index out of range")
            samples.append(pred)
            for byte in block[4:]:
                for nib in (byte & 0x0F, byte >> 4):
                    pred, index = _ima_step(pred, index, nib)
                    samples.append(pred)
        n_frames = (len(data) // block_align) * spb + (
            (len(data) % block_align - 4) * 2 + 1
            if len(data) % block_align
            else 0
        )
        if fact_samples is not None:
            # the fact chunk declares the TRUE sample count — the final
            # block's nibble stream is zero-padded to block_align
            n_frames = min(n_frames, fact_samples)
        samples = samples[:n_frames]
        feat_samples = samples[:FEATURE_DIM]
        feature = [(s + 32768) / 65536.0 for s in feat_samples]
        feature += [0.0] * (FEATURE_DIM - len(feat_samples))
        meta = {
            "width": 0,
            "height": 0,
            "n_frames": n_frames,
            "feature": feature,
            "sample_rate": sample_rate,
            "n_channels": n_channels,
        }
        if want_samples:
            meta["samples"] = samples
        return meta
    if bits % 8 != 0 or bits == 0 or n_channels == 0:
        raise ValueError(f"invalid WAV layout ({bits} bits, {n_channels} ch)")
    frame_bytes = n_channels * (bits // 8)
    if block_align not in (0, frame_bytes):
        raise ValueError("WAV block alignment contradicts fmt")
    pix = data[:FEATURE_DIM]
    if audio_format == 7:
        feature = [(mulaw_expand(b) + 32768) / 65536.0 for b in pix]
        feature += [0.0] * (FEATURE_DIM - len(pix))
    elif audio_format == 6:
        feature = [(alaw_expand(b) + 32768) / 65536.0 for b in pix]
        feature += [0.0] * (FEATURE_DIM - len(pix))
    else:
        feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
    meta = {
        "width": 0,
        "height": 0,
        "n_frames": len(data) // frame_bytes,
        "feature": feature,
        "sample_rate": sample_rate,
        "n_channels": n_channels,
    }
    if want_samples:
        # full integer sample stream for whole-clip consumers (the audio
        # fingerprint); companded bytes expand, 8-bit PCM stays 0..255,
        # 16-bit PCM decodes little-endian signed
        if audio_format == 7:
            meta["samples"] = [mulaw_expand(b) for b in data]
        elif audio_format == 6:
            meta["samples"] = [alaw_expand(b) for b in data]
        elif bits == 8:
            meta["samples"] = list(data)
        elif bits == 16:
            meta["samples"] = [
                struct.unpack_from("<h", data, o)[0]
                for o in range(0, len(data) - 1, 2)
            ]
        else:
            raise NotImplementedError(
                f"sample extraction for {bits}-bit PCM not supported"
            )
    return meta


def encode_avi(
    width: int, height: int, n_frames: int, seed: int, codec: str = "MJPG",
    bpp: int = 24, scene_cut: int | None = None, scene_jump: int = 128,
) -> bytes:
    """Minimal real AVI video (stdlib + the in-repo JPEG encoder): RIFF
    'AVI ' container with an avih main header and one 'vids' stream.

    codec='MJPG' (default): a movi list of '00dc' chunks each holding one
    baseline grayscale JPEG frame (frame f uses gradient seed+f).
    codec='DIB ': UNCOMPRESSED frames — '00db' chunks of raw bottom-up
    rows (BMP row layout, stride padded to 4 bytes), stored pixel-data
    byte i of frame f = (seed + f + i) % 256, strf biCompression=0.
    bpp selects the DIB layout: 24 (BGR triples), 8 (palette indices —
    the strf carries the 256-entry RGBQUAD table DIB_PALETTE_ENTRY), or
    32 (BGRX quads). The raw layout makes every decoded byte
    SQL-recomputable from the seed. Fixture generator for the real
    video-decode round trip."""
    if codec == "MJPG":
        frames = [
            encode_jpeg(width, height, (seed + f) % 256) for f in range(n_frames)
        ]
        fcc, frame_tag, bit_compression = b"MJPG", b"00dc", b"MJPG"
    elif codec == "DIB ":
        if bpp not in (8, 24, 32):
            raise ValueError(f"encode_avi DIB bpp must be 8, 24 or 32, got {bpp}")
        stride = bmp_stride(width, bpp)
        # scene_cut plants a luminance jump at frame >= scene_cut — the
        # fixture hook for shot-boundary detection (still SQL-exact:
        # byte i of frame f = (seed + f + i + jump*(f>=cut)) % 256)
        frames = [
            bytes(
                (seed + f + i + (scene_jump if scene_cut is not None
                                 and f >= scene_cut else 0)) % 256
                for i in range(stride * height)
            )
            for f in range(n_frames)
        ]
        fcc, frame_tag, bit_compression = b"DIB ", b"00db", b"\x00\x00\x00\x00"
    else:
        raise ValueError(f"encode_avi supports MJPG and 'DIB ', got {codec!r}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        40000,  # microseconds per frame (25 fps)
        0, 0, 0,  # max bytes/sec, padding, flags (no AVIF_HASINDEX: no idx1)
        n_frames, 0, 1, 0,  # total frames, initial, streams, buffer
        width, height, 0, 0, 0, 0,
    )
    # full 56-byte AVISTREAMHEADER: flags, priority, language, initial
    # frames, scale/rate (25 fps), start, length, buffer, quality,
    # sample size, rcFrame
    strh = (
        b"vids" + fcc
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n_frames, 0, 0, 0)
        + struct.pack("<4h", 0, 0, width, height)
    )
    dib_bpp = bpp if codec == "DIB " else 24
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, dib_bpp, bit_compression,
        bmp_stride(width, dib_bpp) * height, 0, 0,
        256 if dib_bpp == 8 else 0, 0,
    )
    if dib_bpp == 8:
        strf += b"".join(
            bytes(dib_palette_entry(p)) + b"\x00" for p in range(256)
        )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(frame_tag, f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_frames(
    payload: bytes,
) -> tuple[list[bytes], str, tuple[int, int], tuple | None]:
    """RIFF/AVI chunk-tree walk -> (the '00dc'/'00db' frame chunks, the
    stream kind 'mjpeg'|'dib', the strf (width, height), the DIB layout
    (bpp, palette) — None for mjpeg, palette None unless bpp=8), with the
    corruption-vs-codec classification both callers need:

    * ValueError — truncated/corrupt containers, no frames, a frame whose
      signature is not JPEG while the stream header DECLARES MJPEG, a
      raw DIB frame whose byte count contradicts the strf dimensions
      (a bit-flipped length or cut frame is corrupt data, quarantine it),
      or an 8-bit DIB strf too short to hold its color table;
    * NotImplementedError — the strh fccHandler names another codec, or
      a DIB depth outside {8, 24, 32} (a real codec gap,
      configuration-level).

    The walk honors the RIFF declared size (trailing transfer padding
    after the declared body is legal and ignored)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (declared,) = struct.unpack_from("<I", payload, 4)
    top_end = min(len(payload), 8 + declared)
    frames: list[bytes] = []
    handlers: list[bytes] = []
    strfs: list[tuple] = []
    strf_raws: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (length,) = struct.unpack_from("<I", buf, pos + 4)
            if pos + 8 + length > end:
                raise ValueError(f"truncated AVI chunk {tag!r}")
            if tag == b"LIST":
                ltype = buf[pos + 8 : pos + 12]
                if ltype in (b"movi", b"rec ", b"hdrl", b"strl"):
                    walk(buf, pos + 12, pos + 8 + length)
            elif tag == b"strh" and length >= 8:
                if buf[pos + 8 : pos + 12] == b"vids":
                    handlers.append(buf[pos + 12 : pos + 16])
            elif tag == b"strf" and length >= 20 and len(handlers) > len(strfs):
                # the strf following a vids strh is a BITMAPINFOHEADER
                strfs.append(struct.unpack_from("<IiiHH4s", buf, pos + 8))
                strf_raws.append(buf[pos + 8 : pos + 8 + length])
            elif tag[2:4] in (b"dc", b"db"):
                frames.append(buf[pos + 8 : pos + 8 + length])
            pos += 8 + length + (length & 1)  # chunks are word-aligned

    walk(payload, 12, top_end)
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    handler = handlers[0].upper() if handlers else b"MJPG"
    dims = (abs(strfs[0][1]), abs(strfs[0][2])) if strfs else (0, 0)
    if handler in (b"MJPG", b"MJPA"):
        for f in frames:
            if f[:2] != b"\xff\xd8":
                raise ValueError("corrupt AVI frame (not a JPEG signature)")
        return frames, "mjpeg", dims, None
    if handler in (b"DIB ", b"RGB ", b"\x00\x00\x00\x00"):
        # uncompressed device-independent bitmap frames: the strf is
        # authoritative for layout; BI_RGB at 8 (palette), 24 (BGR) or
        # 32 (BGRX) bits decodes natively
        if not strfs:
            raise ValueError("DIB AVI stream missing its strf header")
        _, w, h, _, bpp, compression = strfs[0]
        if compression not in (b"\x00\x00\x00\x00",):
            raise ValueError("DIB AVI strf declares a compressed layout")
        if bpp not in (8, 24, 32):
            raise NotImplementedError(
                f"{bpp}-bit DIB AVI not supported (8/24/32-bit decode "
                "natively)"
            )
        palette = None
        if bpp == 8:
            raw = strf_raws[0]
            (clr_used,) = struct.unpack_from("<I", raw, 32)
            n_pal = clr_used or 256  # biClrUsed=0 means a full table
            if len(raw) < 40 + 4 * n_pal:
                raise ValueError(
                    "8-bit DIB AVI strf too short for its color table"
                )
            palette = [
                raw[40 + 4 * p : 40 + 4 * p + 3] for p in range(n_pal)
            ]
        expected = bmp_stride(abs(w), bpp) * abs(h)
        for f in frames:
            if len(f) != expected:
                raise ValueError(
                    f"corrupt AVI frame ({len(f)} bytes, strf declares "
                    f"{abs(w)}x{abs(h)}@{bpp}bpp = {expected})"
                )
        return frames, "dib", (abs(w), abs(h)), (bpp, palette)
    raise NotImplementedError(
        f"AVI codec {handlers[0]!r} requires ffmpeg "
        "(MJPEG and uncompressed DIB decode natively)"
    )


def _dib_bgr_prefix(
    frame: bytes, w: int, h: int, bpp: int, palette, n: int
) -> bytes:
    """First n DECODED BGR bytes of a raw DIB frame, in stored
    (bottom-up) row order with stride padding dropped: 8-bit indices go
    through the palette, 32-bit BGRX drops X, 24-bit passes through.
    An index past the color table is corrupt data (ValueError)."""
    out = bytearray()
    stride = bmp_stride(w, bpp)
    for r in range(h):
        row = frame[r * stride : (r + 1) * stride]
        for x in range(w):
            if bpp == 8:
                if row[x] >= len(palette):
                    raise ValueError(
                        f"DIB palette index {row[x]} past the "
                        f"{len(palette)}-entry color table"
                    )
                out += palette[row[x]]
            elif bpp == 32:
                out += row[4 * x : 4 * x + 3]
            else:
                out += row[3 * x : 3 * x + 3]
            if len(out) >= n:
                return bytes(out[:n])
    return bytes(out)


def decode_avi(payload: bytes) -> dict:
    """REAL decoder for AVI video: walks the RIFF chunk tree
    (_avi_frames), counts the frame chunks (real frame count), and
    decodes the FIRST frame for dimensions + feature — through the
    baseline JPEG pipeline for MJPEG streams, or from the raw bottom-up
    rows for uncompressed DIB streams (feature = first FEATURE_DIM
    DECODED BGR bytes / 255: palette-expanded for 8-bit, X dropped for
    32-bit, pass-through for 24-bit; stride padding never leaks in).

    Raises ValueError for truncated/corrupt containers or corrupt frames
    (bad JPEG signature / DIB size or palette mismatch);
    NotImplementedError when the stream header names another codec or an
    unsupported DIB depth (needs a real library)."""
    frames, kind, (w, h), layout = _avi_frames(payload)
    if kind == "dib":
        bpp, palette = layout
        pix = _dib_bgr_prefix(frames[0], w, h, bpp, palette, FEATURE_DIM)
        feature = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
        return {
            "width": w,
            "height": h,
            "n_frames": len(frames),
            "feature": feature,
            "frames": frames,
        }
    meta = decode_jpeg(frames[0])
    return {
        "width": meta["width"],
        "height": meta["height"],
        "n_frames": len(frames),
        "feature": meta["feature"],
        "frames": frames,
    }


def decode_av(payload: bytes, media_type: str, fake: bool = False) -> dict:
    """Decoder for audio/video payloads.

    REAL for RIFF/WAVE PCM audio (stdlib chunk parse) and RIFF/AVI MJPEG
    video (container walk + per-frame baseline JPEG decode). Compressed
    audio codecs and non-MJPEG video need ffmpeg, absent in this
    environment: with fake=True a deterministic stand-in derives metadata
    purely from the bytes; otherwise raise."""
    if not fake:
        if media_type == "audio" and payload[:4] == b"RIFF":
            out = decode_wav(payload)
            out.pop("sample_rate", None)
            out.pop("n_channels", None)
            return out
        if media_type == "video" and payload[:4] == b"RIFF":
            out = decode_avi(payload)
            out.pop("frames", None)
            return out
        raise NotImplementedError(
            "compressed audio / non-MJPEG video decoding requires ffmpeg "
            "(WAV-PCM and AVI-MJPEG decode natively)"
        )
    digest = hashlib.sha256(payload).digest()
    return {
        "width": 0 if media_type == "audio" else 16 + digest[2] % 240,
        "height": 0 if media_type == "audio" else 16 + digest[3] % 240,
        "n_frames": 1 + digest[4] % 120,
        "feature": [digest[8 + i] / 255.0 for i in range(FEATURE_DIM)],
    }


#: the corrupt-input error classes: decoders raise ValueError for
#: everything they can anticipate; struct/Index errors from an UNTRUSTED
#: blob are the same corrupt-input condition. NotImplementedError (a
#: missing codec) is a configuration problem and always propagates.
_QUARANTINED = (ValueError, struct.error, IndexError)


def _map_rows(
    df: "DataFrame",
    cols: list[str],
    schema: T.StructType,
    fn: Callable[..., Iterable[dict]],
    on_error: str = "raise",
) -> "DataFrame":
    """The one media row stage: prune `df` to `cols`, then `mapInArrow`,
    calling `fn(*row)` once per input row. `fn` returns (or yields) 0..n
    output rows as dicts keyed by `schema`'s field names: extra keys are
    ignored, absent ones are null. Each output batch is one
    `pa.RecordBatch.from_pylist` against `schema`'s Arrow types.

    on_error: 'raise' (default — a corrupt payload fails the job loudly,
    the oracle-checked semantics) or 'skip' (quarantine: when `fn` raises
    one of _QUARANTINED, every output row of that input row is dropped,
    mirroring the parse stage's corrupt-page handling — the right mode
    for a real crawl where a few truncated blobs must not kill a 100 TB
    job). Checked here, when the plan is built."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for rb in batches:
            out: list[dict] = []
            for row in zip(*(rb.column(c).to_pylist() for c in cols)):
                try:
                    rows = list(fn(*row))
                except _QUARANTINED:
                    if on_error == "raise":
                        raise
                    continue
                out += rows
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return df.select(*cols).mapInArrow(run, schema)


def _media_table(
    documents: "DataFrame", media_type: str, encode: Callable[[int], bytes]
) -> "DataFrame":
    """MEDIA_SCHEMA rows, one per document: payload = encode(doc_id)."""
    return _map_rows(
        documents,
        ["doc_id"],
        MEDIA_SCHEMA,
        lambda i: [{"media_id": i, "payload": encode(i), "media_type": media_type}],
    )


def extract_media_metadata(
    media: "DataFrame", fake: bool = True, on_error: str = "raise"
) -> "DataFrame":
    """media(media_id, payload, media_type) -> typed metadata + feature.

    One output row per input row; payload never leaves the UDF
    (downstream shuffles carry only metadata). on_error: the _map_rows
    quarantine contract, which every decoder here shares.
    """

    def meta(mid: int, payload: bytes | None, mtype: str) -> list[dict]:
        blob = payload or b""
        if mtype == "image":
            decoded = decode_image(blob, fake=fake)
        else:
            decoded = decode_av(blob, mtype, fake=fake)
        return [
            {
                "media_id": mid,
                "media_type": mtype,
                "n_bytes": len(blob),
                "content_sha": hashlib.sha256(blob).hexdigest(),
                **decoded,
            }
        ]

    return _map_rows(
        media, ["media_id", "payload", "media_type"], META_SCHEMA, meta, on_error
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
        T.StructField("frame_feature", T.ArrayType(T.FloatType())),
    ]
)


def sample_frames(
    media: "DataFrame",
    every_n: int = 10,
    fake: bool = True,
    on_error: str = "raise",
) -> "DataFrame":
    """Frame sampling for video payloads: one output row per sampled frame
    (frames 0, every_n, 2*every_n, ... of the decoded stream); non-video
    rows are filtered out in the JVM before the UDF.

    fake=True (default): stub decode, frame content a deterministic
    function of (payload bytes, frame index) — ascii-index hashing so an
    independent SQL engine reproduces the hashes.
    fake=False: REAL decode for AVI payloads — the RIFF walk
    (_avi_frames, shared with decode_avi so frame 0 is decoded exactly
    once here) yields the frame chunks; each sampled frame's sha is taken
    over its actual stored bytes and its feature from the decoded pixels
    (baseline JPEG for MJPEG streams, raw BGR rows for DIB streams).

    on_error: 'raise' (default) or 'skip' — quarantine granularity is the
    whole payload: a corrupt frame ANYWHERE in a clip drops that clip's
    rows (partial clips would silently bias frame statistics).

    Either way the Spark shape is the same: explode-like fan-out inside
    the UDF, bounded output rows per input row, payload never re-emitted.
    """

    def sampled(mid: int, payload: bytes | None) -> Iterator[dict]:
        blob = payload or b""
        if fake:
            n_frames = decode_av(blob, "video", fake=True)["n_frames"]
            for idx in range(0, n_frames, every_n):
                # ascii index (not packed bytes): NUL-free, so any SQL
                # engine's varchar sha256 reproduces it
                fd = hashlib.sha256(blob + str(idx).encode()).digest()
                yield {
                    "media_id": mid,
                    "frame_idx": idx,
                    "frame_sha": fd.hex(),
                    "frame_feature": [fd[i] / 255.0 for i in range(FEATURE_DIM)],
                }
            return
        frames, kind, (fw, fh), layout = _avi_frames(blob)
        for idx in range(0, len(frames), every_n):
            if kind == "dib":
                pix = _dib_bgr_prefix(
                    frames[idx], fw, fh, layout[0], layout[1], FEATURE_DIM
                )
                feat = [b / 255.0 for b in pix] + [0.0] * (FEATURE_DIM - len(pix))
            else:
                feat = decode_jpeg(frames[idx])["feature"]
            yield {
                "media_id": mid,
                "frame_idx": idx,
                "frame_sha": hashlib.sha256(frames[idx]).hexdigest(),
                "frame_feature": feat,
            }

    videos = media.where(F.col("media_type") == "video")
    return _map_rows(videos, ["media_id", "payload"], FRAME_SCHEMA, sampled, on_error)


def media_bmp_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format media table: one valid 24-bit BMP per doc,
    dimensions derived from doc_id (width 1+id%64, height 1+id%48), solid
    fill id%256. Exercises the real decode path end-to-end: the decoder
    reads these actual header bytes, and an independent SQL oracle can
    recompute width/height/n_bytes from doc_id arithmetic."""
    return _media_table(
        documents, "image", lambda i: encode_bmp(1 + i % 64, 1 + i % 48, i % 256)
    )


def media_png_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format PNG media table: one valid 8-bit RGB PNG
    per doc, dimensions from doc_id (width 1+id%32, height 1+id%24), pixel
    (x,y) = (id + x + y) % 256, scanline filters cycling through all five
    spec types. An independent SQL oracle recomputes width/height and the
    top-left decoded pixel bytes from doc_id arithmetic — so a wrong
    unfilter shows up as a value mismatch, not just a crash."""
    return _media_table(
        documents, "image", lambda i: encode_png(1 + i % 32, 1 + i % 24, i % 256)
    )


def media_gif_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format GIF media table: one valid GIF89a per
    doc (width 1+id%40, height 1+id%30, grayscale palette, pixel (x,y) =
    (id + x + y) % 256, LZW-coded). The SQL oracle recomputes dimensions
    and the decoded leading RGB bytes from doc_id arithmetic — a wrong
    LZW decode or palette map mismatches values."""
    return _media_table(
        documents, "image", lambda i: encode_gif(1 + i % 40, 1 + i % 30, i % 256)
    )


def _jpeg_fixture(i: int) -> bytes:
    """The JPEG fixture payload of doc i (see media_jpeg_from_documents)."""
    w, h, s = 8 + i % 56, 8 + i % 40, i % 256
    k = i % 8
    if k == 0:
        return encode_jpeg(w, h, s)
    if k == 3:
        return encode_jpeg_progressive(w, h, s, levels=i % 3, restart_interval=i % 4)
    if k == 4:
        return encode_jpeg_progressive_color(
            w, h, s, subsample=(i % 2 == 1), restart_interval=i % 4
        )
    if k == 5:
        return encode_jpeg_color_noninterleaved(
            w, h, s, subsample=(i % 2 == 1),
            restart_interval=i % 3,  # 0 = none; 1-2 = RSTn path
        )
    if k == 6:
        return encode_jpeg_color_partial(
            w, h, s, subsample=(i % 2 == 1), restart_interval=i % 3
        )
    if k == 7:
        # generalized sampling: 4:2:2 / 4:4:0 / 4:1:1 plus the
        # FRACTIONAL-ratio layouts (luma 4 against chroma 3 both axes,
        # and a mixed 3:2) — every T.81 sampling class decodes through
        # the Spark UDF path
        layout = (
            (2, 1, 1, 1),
            (1, 2, 1, 1),
            (4, 1, 1, 1),
            (4, 1, 3, 1),
            (1, 4, 1, 3),
            (3, 2, 2, 1),
        )[i % 6]
        return encode_jpeg_color_sampled(w, h, s, *layout)
    return encode_jpeg_color(w, h, s, subsample=(k == 2))


def media_jpeg_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format JPEG media table: one valid JPEG per doc
    (width 8+id%56, height 8+id%40, seed id%256), cycling the eight real
    layouts by doc_id — baseline grayscale, 4:4:4 color, 4:2:0 color,
    progressive grayscale (SOF2; successive-approximation level cycling
    0-2 by doc_id), progressive color, non-interleaved multi-scan
    sequential color, and partially-interleaved sequential color (a scan
    listing 2 of 3 components), and generalized-sampling color
    (4:2:2 / 4:4:0 / 4:1:1 plus fractional 4:3 and 3:2 chroma ratios) —
    so every decode path runs through Spark. The SQL oracle pins the
    header fields (exact by construction); pixel fidelity of the lossy path is pinned by pytest tolerance, not
    the cross-engine hash."""
    return _media_table(documents, "image", _jpeg_fixture)


def media_avi_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format video media table: one valid AVI/MJPEG
    clip per doc (1+id%5 frames of 8+id%24 x 8+id%16 grayscale JPEG,
    frame f seeded id%200+f). The SQL oracle pins the container-level
    facts (dimensions, frame count, sampled frame indices) from doc_id
    arithmetic; per-frame pixel fidelity is pinned by pytest tolerance."""
    return _media_table(
        documents,
        "video",
        lambda i: encode_avi(8 + i % 24, 8 + i % 16, 1 + i % 5, i % 200),
    )


def media_avi_dib_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format UNCOMPRESSED video media table: one
    valid AVI/DIB clip per doc (1+id%5 raw 24-bit frames of
    4+id%12 x 2+id%6, pixel-data byte i of frame f = (id%256 + f + i)
    % 256). Raw frames make the decode SQL-exact: the oracle recomputes
    dimensions, frame count, AND the leading pixel bytes from doc_id
    arithmetic — the pixel-fidelity twin of the MJPEG container check."""
    return _media_table(
        documents,
        "video",
        lambda i: encode_avi(4 + i % 12, 2 + i % 6, 1 + i % 5, i % 256, codec="DIB "),
    )


#: doc_id % 3 -> DIB bit depth for the mixed-depth fixture
DIB_DEPTH_CYCLE = (24, 8, 32)


def media_avi_dib_depths_from_documents(documents: "DataFrame") -> "DataFrame":
    """Mixed-depth twin of media_avi_dib_from_documents: the clip for doc
    id uses bpp = DIB_DEPTH_CYCLE[id % 3] (24-bit BGR, 8-bit palette with
    the dib_palette_entry color table, 32-bit BGRX), same dimension/
    frame-count/seed arithmetic. Every decoded BGR byte stays
    SQL-recomputable: stored byte i of frame f is (id%256 + f + i) % 256,
    and the palette channels are linear in the index."""
    return _media_table(
        documents,
        "video",
        lambda i: encode_avi(
            4 + i % 12, 2 + i % 6, 1 + i % 5, i % 256,
            codec="DIB ", bpp=DIB_DEPTH_CYCLE[i % 3],
        ),
    )


def media_wav_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format WAV media table: one valid 8-bit PCM WAV
    per doc, 1+id%100 mono samples at 8 kHz, sample i = (id + i) % 256.
    The SQL oracle recomputes the frame count and leading sample bytes
    from doc_id arithmetic."""
    return _media_table(
        documents, "audio", lambda i: encode_wav(1 + i % 100, i % 256)
    )


def media_mulaw_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format G.711 mu-law media table: one valid
    format-7 WAV per doc, 1+id%100 mono companded samples, code i =
    (id + i) % 256. The SQL oracle reproduces the integer mu-law
    expansion of every leading sample from doc_id arithmetic."""
    return _media_table(
        documents,
        "audio",
        lambda i: encode_wav(1 + i % 100, i % 256, audio_format=7),
    )


def media_alaw_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format G.711 A-law media table: one valid
    format-6 WAV per doc, 1+id%100 mono companded samples, code i =
    (id + i) % 256. The SQL oracle reproduces the integer A-law
    expansion of every leading sample from doc_id arithmetic."""
    return _media_table(
        documents,
        "audio",
        lambda i: encode_wav(1 + i % 100, i % 256, audio_format=6),
    )


def media_adpcm_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic REAL-format IMA-ADPCM media table: one valid
    format-0x11 WAV per doc, 1+id%100 mono triangle-wave samples,
    block_align=5 (3 samples/block) so samples 0,3,6,... are block-header
    predictors — exact source values the SQL oracle recomputes from
    doc_id arithmetic; the in-between nibble-decoded samples are pinned
    sample-exact in pytest against the encoder's reconstruction list."""
    return _media_table(
        documents,
        "audio",
        lambda i: encode_wav_adpcm(1 + i % 100, i % 256, block_align=5),
    )


def media_from_documents(documents: "DataFrame") -> "DataFrame":
    """Deterministic fake media table: each document's utf-8 bytes act as
    an opaque payload (media_type cycles by doc_id). Lets the multimodal
    plumbing run on driver testdata with zero external files."""
    mtype = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        mtype.alias("media_type"),
    )


def resize_bmp(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL nearest-neighbor resize for uncompressed 24-bit BMP payloads:
    samples src pixels at round-half-down grid positions and re-emits a
    valid BMP. The kernel is a numpy gather (frombuffer → stride reshape →
    fancy-index precomputed sy/sx grids) — one vectorized copy per image,
    no per-pixel Python, so 224×224 crops over millions of images stay
    Arrow-batch-bound rather than interpreter-bound.

    Raises ValueError for truncated payloads (pixel data shorter than the
    declared dimensions) so quarantine mode drops them instead of silently
    emitting a short, internally inconsistent output."""
    if payload[:2] != b"BM" or len(payload) < BMP_HEADER_BYTES:
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}")
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) not supported")
    top_down = height < 0  # row order preserved; output header keeps the sign
    width, height = abs(width), abs(height)
    src_stride = bmp_stride(width)
    if len(payload) < data_offset + src_stride * height:
        raise ValueError(
            f"truncated BMP: header declares {width}x{height} "
            f"({data_offset + src_stride * height} bytes) but payload is "
            f"{len(payload)} bytes"
        )
    dst_stride = bmp_stride(target_w)
    import numpy as np

    src = np.frombuffer(
        payload, dtype=np.uint8, count=src_stride * height, offset=data_offset
    ).reshape(height, src_stride)
    sy = (np.arange(target_h, dtype=np.int64) * height) // target_h
    sx = (np.arange(target_w, dtype=np.int64) * width) // target_w
    # byte columns of the sampled pixel triples, in row order
    cols = (sx[:, None] * 3 + np.arange(3, dtype=np.int64)[None, :]).reshape(-1)
    out = np.zeros((target_h, dst_stride), dtype=np.uint8)
    out[:, : target_w * 3] = src[sy][:, cols]
    data = out.tobytes()
    file_header = b"BM" + struct.pack(
        "<IHHI", BMP_HEADER_BYTES + len(data), 0, 0, BMP_HEADER_BYTES
    )
    out_h = -target_h if top_down else target_h
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, target_w, out_h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return file_header + info_header + data


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resize_images(
    media: "DataFrame",
    target_w: int | None = 8,
    target_h: int | None = 8,
    on_error: str = "raise",
) -> "DataFrame":
    """Batch image resize: one resized BMP per input image row (non-image
    rows are filtered out in the JVM before the UDF). target_w/target_h
    None = halve the source dimensions (floor, min 1). The payload column
    is re-emitted here by necessity — the resized image IS the product —
    but it is the SMALL post-resize blob (target dims), so downstream
    stages shuffle thumbnails, not originals. on_error: the _map_rows
    quarantine contract ('skip' drops undecodable payloads instead of
    failing the job)."""

    def resized(mid: int, payload: bytes | None) -> list[dict]:
        src = payload or b""
        if target_w is None or target_h is None:
            # each None axis halves independently; a given axis is
            # honored as-is (fixed width + auto height)
            hdr = decode_bmp(src)
            tw = target_w if target_w is not None else max(1, hdr["width"] // 2)
            th = target_h if target_h is not None else max(1, hdr["height"] // 2)
        else:
            tw, th = target_w, target_h
        blob = resize_bmp(src, tw, th)
        return [
            {
                "media_id": mid,
                "payload": blob,
                "width": tw,
                "height": th,
                "n_bytes": len(blob),
            }
        ]

    images = media.where(F.col("media_type") == "image")
    return _map_rows(images, ["media_id", "payload"], RESIZED_SCHEMA, resized, on_error)


AHASH_GRID = 8

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("ahash", T.StringType()),
        T.StructField("dhash", T.StringType()),
    ]
)


def _ahash_of(lum) -> tuple[str, int]:
    """64-bit average hash of an integer luminance grid: 8x8 block
    integer means, global threshold = floor-mean of the present block
    means, bit (by*8+bx) set iff its block mean EXCEEDS the threshold.
    Images narrower/shorter than 8px simply have absent blocks (bit 0).
    All arithmetic is integer floor — engine-exact by construction."""
    import numpy as np

    height, width = lum.shape
    bx = (np.arange(width) * AHASH_GRID) // width
    by = (np.arange(height) * AHASH_GRID) // height
    bidx = (by[:, None] * AHASH_GRID + bx[None, :]).ravel()
    sums = np.zeros(AHASH_GRID * AHASH_GRID, dtype=np.int64)
    np.add.at(sums, bidx, lum.ravel())
    cnts = np.bincount(bidx, minlength=AHASH_GRID * AHASH_GRID)
    present = cnts > 0
    means = np.zeros_like(sums)
    means[present] = sums[present] // cnts[present]
    n_blocks = int(present.sum())
    t = int(means[present].sum()) // n_blocks
    h = 0
    for i in np.nonzero(present & (means > t))[0]:
        h |= 1 << int(i)
    # dHash rides the same block means: bit by*7+bx set when block
    # (by, bx+1) is strictly brighter than (by, bx) — the horizontal
    # gradient signature, complementary to aHash's global-threshold one;
    # pairs with an absent side contribute 0 (tiny images)
    dh = 0
    for by in range(AHASH_GRID):
        for bx in range(AHASH_GRID - 1):
            a, b = by * AHASH_GRID + bx, by * AHASH_GRID + bx + 1
            if present[a] and present[b] and means[b] > means[a]:
                dh |= 1 << (by * (AHASH_GRID - 1) + bx)
    return format(h, "016X"), format(dh, "014X"), n_blocks


def _luminance(blob: bytes, stat: str) -> tuple[int, int, "np.ndarray"]:
    """(width, height, integer luminance grid) of a PNG or JPEG payload:
    the integer mean over a pixel's channels (alpha included). Other
    magics raise NotImplementedError — `stat` needs a full-pixel decode,
    and only these two decoders reconstruct the whole image."""
    import numpy as np

    if blob[:8] == PNG_SIG:
        meta = decode_png(blob, want_pixels=True)
        ch = meta["channels"]
        arr = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(
            meta["height"], meta["width"], ch
        )
        lum = arr.astype(np.int64).sum(axis=2) // ch
    elif blob[:2] == b"\xff\xd8":
        meta = decode_jpeg(blob)
        img = meta["pixels"].astype(np.int64)
        lum = img if img.ndim == 2 else img.sum(axis=2) // 3
    else:
        raise NotImplementedError(f"{stat} needs a full-pixel decode (PNG/JPEG)")
    return int(meta["width"]), int(meta["height"]), lum


def media_ahash(media: "DataFrame", on_error: str = "raise") -> "DataFrame":
    """Perceptual image hash (aHash) from the REAL decoded pixel grid —
    the near-duplicate key an image-dedup pass buckets on (byte-level
    hashing misses re-encodes; aHash survives them). Luminance is
    _luminance's (alpha included — determinism over photometric nicety);
    the hash recipe is _ahash_of's.

    Full-pixel decode currently rides the PNG and JPEG decoders (the two
    formats whose decoders reconstruct the whole image); other magics
    raise NotImplementedError — a codec gap, never quarantined. Corrupt
    payloads follow the _map_rows on_error contract. _ahash_of raises
    none of _QUARANTINED on the 2-D grid _luminance returns (its block
    indices are < 64 by construction), so the quarantine catches decode
    errors only.

    Scale shape: one _map_rows pass; the payload never leaves the UDF —
    downstream carries five scalar columns per image. Grouping equal
    hashes afterwards is an ordinary hash aggregate.

    Output: media_id, width, height, n_blocks, ahash (16 hex),
    dhash (14 hex — the 56-bit horizontal-gradient sibling; the pair is
    the standard perceptual-dedup key set).
    """

    def ahash(mid: int, payload: bytes | None) -> list[dict]:
        width, height, lum = _luminance(payload or b"", "aHash")
        ahash, dhash, n_blocks = _ahash_of(lum)
        return [
            {
                "media_id": mid,
                "width": width,
                "height": height,
                "n_blocks": n_blocks,
                "ahash": ahash,
                "dhash": dhash,
            }
        ]

    return _map_rows(media, ["media_id", "payload"], AHASH_SCHEMA, ahash, on_error)


FP_BANDS = 8

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("s_total", T.LongType()),
        T.StructField("fp", T.IntegerType()),
    ]
)


def audio_fingerprint(media: "DataFrame", on_error: str = "raise") -> "DataFrame":
    """Band-delta audio fingerprint from the REAL WAV decode — the
    Shazam-family idea reduced to its integer skeleton: split the clip's
    sample stream into FP_BANDS equal-share bands (sample i -> band
    i*FP_BANDS DIV n), sum each band, and set bit b-1 when band b's
    energy EXCEEDS band b-1's under the cross-multiplied integer compare
    sum_b * cnt_{b-1} > sum_{b-1} * cnt_b (band sizes differ by one —
    never compare raw sums). Re-encodes that preserve the coarse energy
    envelope keep the fingerprint; byte hashing would not.

    Rides decode_wav's full-sample path (PCM 8/16-bit, A-law, mu-law,
    IMA-ADPCM all expand to integer samples — the same exact expansion
    the oracle reproduces). Scale shape: one _map_rows pass; the payload
    and the sample stream never leave the UDF — four scalars per clip.

    Output: media_id, n_samples, s_total, fp (0..2^(FP_BANDS-1)-1).
    """

    def fingerprint(mid: int, payload: bytes | None) -> list[dict]:
        samples = decode_wav(payload or b"", want_samples=True)["samples"]
        n = len(samples)
        sums = [0] * FP_BANDS
        cnts = [0] * FP_BANDS
        for i, s in enumerate(samples):
            b = i * FP_BANDS // n
            sums[b] += s
            cnts[b] += 1
        # compare consecutive PRESENT bands (clips shorter than FP_BANDS
        # samples skip band indices); bit = band - 1
        fp = 0
        prev = None
        for b in range(FP_BANDS):
            if not cnts[b]:
                continue
            if prev is not None and sums[b] * cnts[prev] > sums[prev] * cnts[b]:
                fp |= 1 << (b - 1)
            prev = b
        return [{"media_id": mid, "n_samples": n, "s_total": sum(sums), "fp": fp}]

    return _map_rows(
        media, ["media_id", "payload"], AUDIO_FP_SCHEMA, fingerprint, on_error
    )


def media_avi_scenes_from_documents(documents: "DataFrame") -> "DataFrame":
    """Scene-cut twin of media_avi_dib_from_documents: the clip for doc
    id carries a PLANTED luminance jump — byte i of frame f is
    (id%256 + f + i + 128*(f >= cut)) % 256 with cut = 1 + id % 4 and
    2 + id % 5 frames, so clips whose cut lands inside the frame range
    have exactly one real shot boundary and the rest have none. Raw DIB
    keeps every decoded byte SQL-recomputable (the dib fixture
    contract), which makes the downstream shot detector value-oracled
    end-to-end: real container encode -> real RIFF decode -> detector."""
    return _media_table(
        documents,
        "video",
        lambda i: encode_avi(
            4 + i % 12, 2 + i % 6, 2 + i % 5, i % 256,
            codec="DIB ", scene_cut=1 + i % 4,
        ),
    )


def shot_boundaries(frames: "DataFrame", thresh: int = 512) -> "DataFrame":
    """Shot-boundary detection over sampled video frames — the cut
    detector a video-curation pipeline runs before per-shot sampling:
    consecutive frames whose content distance spikes mark a scene
    change.

    The distance is the summed CIRCULAR byte distance between the two
    frames' feature vectors: each float feature recovers its exact
    pixel byte (round(x*255) — b/255.0*255 rounds to b exactly in
    float64, the mulaw-recovery idiom), and per byte
    d = min((a-b) mod 256, (b-a) mod 256). Circular distance makes the
    detector wrap-proof: the fixture's drifting gradient steps every
    byte by +1 (d=1 even across the 255->0 wrap), while a planted
    128-luminance scene cut scores ~127 per byte — a 8 vs ~1016 margin
    no modular-subtraction artifact can blur. All integer, engine-exact.

    Scale shape: one lag window PARTITIONED BY media_id over frame_idx
    — a clip's frames are a bounded stratum; the zip_with/aggregate
    distance is per-row codegen, no shuffle beyond the clip
    repartition.

    Output: media_id, frame_idx, dist (bigint), is_cut.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    paired = frames.select(
        "media_id",
        "frame_idx",
        "frame_feature",
        F.lag("frame_feature").over(w).alias("_prev"),
    ).where(F.col("_prev").isNotNull())
    byte_d = F.zip_with(
        F.col("frame_feature"),
        F.col("_prev"),
        lambda x, y: F.least(
            F.pmod(
                F.round(x * 255, 0).cast("long")
                - F.round(y * 255, 0).cast("long"),
                F.lit(256),
            ),
            F.pmod(
                F.round(y * 255, 0).cast("long")
                - F.round(x * 255, 0).cast("long"),
                F.lit(256),
            ),
        ),
    )
    dist = F.aggregate(
        byte_d, F.lit(0).cast("long"), lambda acc, d: acc + d
    )
    return paired.select(
        "media_id",
        "frame_idx",
        dist.alias("dist"),
        (dist >= thresh).alias("is_cut"),
    )


COLORSTATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("min_b", T.IntegerType()),
        T.StructField("max_b", T.IntegerType()),
    ]
)


def media_colorstats(media: "DataFrame", on_error: str = "raise") -> "DataFrame":
    """Per-channel color statistics over the FULL first frame of an
    uncompressed (DIB) video payload — the feature-extract stage of an
    image/video curation pipeline (channel means feed white-balance
    filters and trivially detect black/solid-color junk frames).

    The whole frame decodes — stride rows sliced to width*3 BGR bytes,
    row PADDING EXCLUDED (the classic BMP off-by-stride trap: the pad
    bytes are not pixels and must not bias a channel mean). Sums/mins/
    maxes are exact integers, so the DIB fixture keeps the entire
    statistic SQL-recomputable from doc_id arithmetic.

    Scale shape: one _map_rows pass, payload never re-emitted —
    downstream carries eight scalars per clip.

    Output: media_id, width, height, n_px, sum_b, sum_g, sum_r,
    min_b, max_b.
    """
    import numpy as np

    def colorstats(mid: int, payload: bytes | None) -> list[dict]:
        frames, kind, (fw, fh), layout = _avi_frames(payload or b"")
        if kind != "dib" or layout[0] != 24:
            raise NotImplementedError("colorstats needs an uncompressed 24-bit stream")
        stride = bmp_stride(fw, 24)
        arr = np.frombuffer(frames[0], dtype=np.uint8).reshape(fh, stride)
        px = arr[:, : fw * 3].reshape(fh * fw, 3).astype(np.int64)
        return [
            {
                "media_id": mid,
                "width": fw,
                "height": fh,
                "n_px": fh * fw,
                "sum_b": int(px[:, 0].sum()),
                "sum_g": int(px[:, 1].sum()),
                "sum_r": int(px[:, 2].sum()),
                "min_b": int(px[:, 0].min()),
                "max_b": int(px[:, 0].max()),
            }
        ]

    return _map_rows(
        media, ["media_id", "payload"], COLORSTATS_SCHEMA, colorstats, on_error
    )


PHASH_LOWFREQ = 6      # low-frequency DCT block kept (DC excluded)
PHASH_QSCALE = 1024    # integer quantizer for the cosine basis


def phash_coeffs() -> list:
    """Integer-quantized DCT-II basis Q[u][x] = floor(cos((2x+1) * u *
    pi / 16) * PHASH_QSCALE) for u < PHASH_LOWFREQ, x < AHASH_GRID.
    Computed ONCE here and embedded verbatim as literals in the SQL
    oracle generator, so both engines fold the SAME integers — the
    quantization is what makes a DCT cross-engine exact at all."""
    import math

    return [
        [
            math.floor(
                math.cos((2 * x + 1) * u * math.pi / 16) * PHASH_QSCALE
            )
            for x in range(AHASH_GRID)
        ]
        for u in range(PHASH_LOWFREQ)
    ]


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dc", T.LongType()),
        T.StructField("phash", T.StringType()),
    ]
)


def _phash_of(lum) -> tuple:
    """35-bit perceptual DCT hash of an integer luminance grid: 8x8
    block floor-means (absent blocks = 0), integer 2-D DCT over the
    quantized basis, keep the 6x6 low-frequency block, drop DC,
    threshold at the LOWER MEDIAN (sorted index 17 of the 35 values),
    bit u*6+v set iff its coefficient strictly exceeds it. Every step
    is integer — engine-exact by construction. Returns (dc, hex)."""
    import numpy as np

    height, width = lum.shape
    bx = (np.arange(width) * AHASH_GRID) // width
    by = (np.arange(height) * AHASH_GRID) // height
    bidx = (by[:, None] * AHASH_GRID + bx[None, :]).ravel()
    sums = np.zeros(AHASH_GRID * AHASH_GRID, dtype=np.int64)
    np.add.at(sums, bidx, lum.ravel())
    cnts = np.bincount(bidx, minlength=AHASH_GRID * AHASH_GRID)
    present = cnts > 0
    means = np.zeros_like(sums)
    means[present] = sums[present] // cnts[present]
    grid = means.reshape(AHASH_GRID, AHASH_GRID)  # [by][bx]

    q = np.array(phash_coeffs(), dtype=np.int64)  # (6, 8)
    coef = q @ grid.T @ q.T  # coef[u][v] = sum M[y][x] q[u][x] q[v][y]
    vals = coef.ravel().copy()
    vals = np.delete(vals, 0)  # drop DC
    med = int(np.sort(vals)[(len(vals) - 1) // 2])
    h = 0
    for u in range(PHASH_LOWFREQ):
        for v in range(PHASH_LOWFREQ):
            if (u, v) == (0, 0):
                continue
            if int(coef[u, v]) > med:
                h |= 1 << (u * PHASH_LOWFREQ + v)
    return int(coef[0, 0]), format(h, "09X")


def media_phash(media: "DataFrame", on_error: str = "raise") -> "DataFrame":
    """DCT perceptual hash (pHash) from the REAL decoded pixel grid —
    the re-encode-robust sibling of media_ahash: aHash thresholds raw
    block brightness, pHash thresholds the image's low-frequency
    SPECTRUM, so it survives contrast shifts and mild blur that move
    every block mean together. The DCT basis is integer-quantized
    (phash_coeffs) so the whole statistic is integer and the SQL twin
    recomputes it bit-for-bit from the synthetic pixel function.

    Same decode surface and on_error contract as media_ahash (PNG and
    JPEG full-pixel decoders; other magics raise NotImplementedError).
    _phash_of works on fixed 8x8/6x6 shapes and raises none of
    _QUARANTINED.

    Scale shape: one _map_rows pass, payload never re-emitted;
    downstream carries four scalars per image. Headroom:
    |coef| <= 255 * 1024^2 * 64 ~ 1.7e13 — int64-safe.

    Output: media_id, width, height, dc, phash (9 hex, 35 bits).
    """

    def phash(mid: int, payload: bytes | None) -> list[dict]:
        width, height, lum = _luminance(payload or b"", "pHash")
        dc, ph = _phash_of(lum)
        return [
            {"media_id": mid, "width": width, "height": height, "dc": dc, "phash": ph}
        ]

    return _map_rows(media, ["media_id", "payload"], PHASH_SCHEMA, phash, on_error)


LOUDNESS_FRAME = 32  # samples per loudness frame

LOUDNESS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("ssq_total", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak_frame", T.LongType()),
        T.StructField("peak_ms", T.LongType()),
    ]
)


def audio_loudness(media: "DataFrame", on_error: str = "raise") -> "DataFrame":
    """Framed loudness profile from the REAL WAV decode — the clipping/
    silence triage pass of an audio-curation pipeline: the sample
    stream splits into LOUDNESS_FRAME-sample frames and each frame's
    MEAN-SQUARE energy (integer sum-of-squares DIV count — mean square,
    deliberately not RMS: no sqrt exists both engines floor alike) is
    computed; the loudest frame and its energy come back beside the
    clip totals. Rides decode_wav's full-sample path like
    audio_fingerprint; same on_error contract.

    Peak selection is deterministic under energy ties: the EARLIEST
    loudest frame wins (max over (ms, -frame) pairs).

    Scale shape: one _map_rows pass; payload and samples never
    re-emitted — five scalars per clip.

    Output: media_id, n_samples, ssq_total, n_frames, peak_frame,
    peak_ms.
    """
    import numpy as np

    def loudness(mid: int, payload: bytes | None) -> list[dict]:
        samples = decode_wav(payload or b"", want_samples=True)["samples"]
        v = np.asarray(samples, dtype=np.int64)
        n = len(v)
        fidx = np.arange(n) // LOUDNESS_FRAME
        nf = int(fidx[-1]) + 1 if n else 0
        ssq = np.zeros(nf, dtype=np.int64)
        np.add.at(ssq, fidx, v * v)
        cnt = np.bincount(fidx, minlength=nf)
        if nf:
            ms = ssq // np.maximum(cnt, 1)
            best = int(np.lexsort((np.arange(nf), -ms))[0])
            peak_f, peak_m = best, int(ms[best])
        else:
            peak_f, peak_m = -1, 0
        return [
            {
                "media_id": mid,
                "n_samples": n,
                "ssq_total": int((v * v).sum()),
                "n_frames": nf,
                "peak_frame": peak_f,
                "peak_ms": peak_m,
            }
        ]

    return _map_rows(
        media, ["media_id", "payload"], LOUDNESS_SCHEMA, loudness, on_error
    )
