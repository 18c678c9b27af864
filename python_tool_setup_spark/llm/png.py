"""Minimal pure-stdlib PNG codec (zlib + struct) for the multimodal
decode path (L5).

The container ships no PIL/opencv, but PNG itself is simple enough to
implement from the public spec (RFC 2083): IHDR/IDAT/IEND chunks, zlib
compression, per-scanline filters 0-4. This makes the q44 decode gate a
REAL decode — actual pixels out of actual compressed bytes — instead of
a digest-derived fake.

Supported: 8-bit greyscale (color type 0), RGB (2), RGBA (6),
non-interlaced. Anything else raises NotImplementedError — the honest
stub boundary for exotic formats.

Scale note: the codec runs inside Arrow-batched ``mapInPandas`` workers
(see ``multimodal.decode_image_stats``); nothing here touches the
driver.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 6: 4}
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Encode raw 8-bit pixels (row-major, interleaved channels) as PNG."""
    if channels not in _COLOR_TYPE:
        raise NotImplementedError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer {len(pixels)} != {width}x{height}x{channels}"
        )
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0
    )
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to ``(width, height, channels, pixels)``.

    Pixels are raw 8-bit row-major interleaved bytes, scanline filters
    reversed per the spec (None/Sub/Up/Average/Paeth).
    """
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", payload)
            )
            if bit_depth != 8 or color_type not in _CHANNELS:
                raise NotImplementedError(
                    f"bit depth {bit_depth} / color type {color_type}"
                )
            if interlace:
                raise NotImplementedError("interlaced PNG")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if width < 0:
        raise ValueError("not a PNG: missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("truncated PNG pixel data")
    bpp = channels  # 8-bit: bytes per pixel
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(out)
