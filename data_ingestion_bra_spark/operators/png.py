"""Minimal pure-Python PNG codec (stdlib only: ``zlib`` + ``struct``).

Exists so the multimodal image-decode path can exercise a REAL image
container in this dependency-locked container (Pillow is absent and
installs are forbidden): the decoder parses genuine PNG bytes — signature,
chunk framing, CRC validation, IHDR geometry, zlib-compressed IDAT, and all
five scanline filter predictors (None/Sub/Up/Average/Paeth, PNG spec
§9 "Filtering") — and the encoder produces spec-conformant files (verified
round-trip against Pillow when available).

Scope is deliberately tight: 8-bit depth, color types 0 (gray), 2 (RGB),
4 (gray+alpha), 6 (RGBA), no interlace, no ancillary-chunk interpretation.
That covers every fixture this repo synthesizes; a production deployment
would call Pillow/libvips instead of ``decode_png`` inside the same
per-row functions that ``operators/multimodal.py:map_rows`` runs.

Pure-Python per-pixel work is the slow path — acceptable here because it
runs inside Arrow-batched ``mapInPandas`` exactly where a C decoder would,
so swapping implementations changes zero plumbing.
"""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> channel count (bit depth 8 only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    *,
    channels: int = 3,
    filter_type: int = 0,
) -> bytes:
    """Encode raw 8-bit pixel bytes (row-major, interleaved channels) as a
    PNG. ``filter_type`` applies one scanline filter uniformly (0-4) so
    tests can exercise every decoder de-filter path on known data."""
    if channels not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {channels}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"bad filter type {filter_type}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError(f"pixel buffer {len(pixels)} != {stride}*{height}")
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:  # None
            raw += line
        elif filter_type == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif filter_type == 2:  # Up
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:  # Average
            raw += bytes(
                (line[i] - (((line[i - channels] if i >= channels else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0)
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode PNG bytes -> (width, height, channels, pixel_bytes).

    Validates the signature and every chunk CRC, concatenates IDAT streams,
    inflates, and reverses the per-scanline filter. Raises ``ValueError`` on
    corrupt or out-of-scope input (the real-decoder failure contract).
    """
    if data[:8] != SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos : pos + 8])
        end = pos + 8 + length
        if end + 4 > len(data):
            raise ValueError("truncated PNG chunk")
        payload = data[pos + 8 : end]
        (crc,) = struct.unpack(">I", data[end : end + 4])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if comp or filt or interlace:
                raise ValueError("unsupported compression/filter/interlace method")
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        pos = end + 4
    if width is None:
        raise ValueError("missing IHDR")
    channels = _CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length does not match geometry")
    out = bytearray()
    prev = bytearray(stride)
    p = 0
    for _ in range(height):
        ftype = raw[p]
        p += 1
        line = bytearray(raw[p : p + stride])
        p += stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad scanline filter {ftype}")
        out += line
        prev = line
    return width, height, channels, bytes(out)
