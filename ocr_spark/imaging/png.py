"""Minimal deterministic PNG codec (8-bit gray / RGB / RGBA, no interlace).

The container has no cv2/PIL, so media payloads are encoded/decoded with
this ~150-line codec built on stdlib zlib.  We always emit filter type 0
(None) per scanline; the decoder additionally accepts filters 1 (Sub),
2 (Up) so externally produced simple PNGs still load.

Replaces the reference's PIL round-trips (e.g. chunk save at
/root/reference/app/ocr/got.py:164-171) — bytes stay in memory here.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# hard bound on any single raster a decoder here will allocate (pixels
# x channels): dimensions come from untrusted bytes, and an unbounded
# allocation is an executor OOM-kill, not a counted skip. 64 MP (uint8)
# is ~8x a letter page at dpi=300 — far above any legitimate
# fixture-grade page, far below memory trouble.
_MAX_RASTER_PX = 64_000_000

# PNG color types for our supported layouts
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> color type
_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type -> channels


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(img: np.ndarray, compress_level: int = 1) -> bytes:
    """uint8 HxW (gray) or HxWx{3,4} (RGB/RGBA) array -> PNG bytes."""
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8 image, got {img.dtype}")
    if img.ndim == 2:
        channels = 1
    elif img.ndim == 3 and img.shape[2] in (3, 4):
        channels = img.shape[2]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")

    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[channels], 0, 0, 0)

    flat = img.reshape(h, w * channels)
    # filter byte 0 prefixed to every scanline
    raw = np.empty((h, w * channels + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = flat
    idat = zlib.compress(raw.tobytes(), compress_level)

    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 HxW or HxWxC numpy array.

    Raises ValueError for anything that is not a simple 8-bit
    non-interlaced gray/RGB/RGBA PNG (the validation-failure path —
    callers convert this into a `skipped` metric, mirroring the
    reject-don't-crash contract of
    /root/reference/app/utils/file_validation.py:149-162).
    """
    if len(data) < 8 or data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or interlace != 0 or color_type not in _CHANNELS:
                raise ValueError("unsupported PNG layout")
            # checked before any inflate: a tiny IDAT can claim gigabytes
            if width * height * _CHANNELS[color_type] > _MAX_RASTER_PX:
                raise ValueError(
                    f"PNG raster {width}x{height} exceeds the "
                    f"{_MAX_RASTER_PX / 1e6:.0f} MP bound"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")

    channels = _CHANNELS[color_type]
    stride = width * channels
    expected = height * (stride + 1)
    # inflate at most one byte past the IHDR's size, so a payload that
    # inflates further (a decompression bomb) costs no more than that
    inflater = zlib.decompressobj()
    try:
        inflated = inflater.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG data: {exc}") from exc
    if len(inflated) > expected:
        raise ValueError("PNG data inflates past its IHDR size")
    if not inflater.eof:
        raise ValueError("truncated PNG data")
    if len(inflated) != expected:
        raise ValueError("bad PNG data size")
    raw = np.frombuffer(inflated, dtype=np.uint8)
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    out = raw[:, 1:].copy()  # writable, C-contiguous pixels

    if np.any(filters > 2):
        raise ValueError("unsupported PNG filter type")
    # Sub (1): out[x] += out[x - channels] — per channel, a wrapping
    # uint8 cumulative sum along the row. Sub rows never read other rows.
    sub = filters == 1
    if sub.any():
        rows = out[sub].reshape(-1, width, channels)
        out[sub] = np.cumsum(rows, axis=1, dtype=np.uint8).reshape(-1, stride)
    # Up (2): out[y] += out[y-1]. Every other row is final by now, so a
    # run of consecutive Up rows is a wrapping cumulative sum down the
    # run, added to the row above it (zeros above the first row).
    up = np.flatnonzero(filters == 2)
    for run in np.split(up, np.flatnonzero(np.diff(up) != 1) + 1) if up.size else ():
        y0, y1 = run[0], run[-1] + 1
        block = np.cumsum(out[y0:y1], axis=0, dtype=np.uint8)
        if y0 > 0:
            block += out[y0 - 1]
        out[y0:y1] = block

    if channels == 1:
        return out.reshape(height, width)
    return out.reshape(height, width, channels)
