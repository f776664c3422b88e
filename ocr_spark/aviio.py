"""Uncompressed-AVI (RIFF ``AVI ``) writer + frame walker.

PyAV/ffmpeg is the real video decoder when installed; without it, and
unlike audio (stdlib ``wave``), the stdlib has no video codec at all.
This module is the video sibling of pdfio's no-fitz header walker:
*uncompressed* DIB AVIs (``BI_RGB``, 8-bit grayscale palette or 24-bit
BGR) parse in pure numpy, so the REAL frame-sampling path — container
parse, per-frame decode, every-Nth stride — executes and is testable
without PyAV. Compressed codecs
(MJPEG, H.264, …) remain PyAV's job and raise here, exactly like
compressed-xref PDFs raise in the pdf walker.

Layout written/read (all little-endian):

    RIFF <size> AVI
      LIST hdrl
        avih <56-byte MainAVIHeader>
        LIST strl
          strh <56-byte AVIStreamHeader, fccType 'vids', handler 'DIB '>
          strf <40-byte BITMAPINFOHEADER [+ 256-entry RGBQUAD palette]>
      LIST movi
        00db <frame bytes>   (bottom-up rows, 4-byte padded, per DIB rules)
        ...

The walker is deliberately forgiving about chunks it does not know
(JUNK, idx1, extra streams are skipped by size) and deliberately strict
about what it decodes: non-``vids`` first stream, compressed biCompression,
or a frame raster above the pdfio OOM bound all raise ValueError, which
callers convert to typed skip rows — never a blank or garbage frame.
"""

from __future__ import annotations

import struct

import numpy as np

from ocr_spark.imaging.kernels import to_gray
from ocr_spark.pdfio import _MAX_RASTER_PX

_AVIH_FMT = "<14I"  # MainAVIHeader: 14 uint32 (56 bytes)
_STRH_FMT = "<4s4sIHHIIIIIIIi4h"  # AVIStreamHeader (56 bytes, incl. rcFrame)
_BMIH_FMT = "<IiiHHIIiiII"  # BITMAPINFOHEADER (40 bytes)


def _pad_row(w: int, bpp: int) -> int:
    """DIB rows are padded to 4-byte boundaries."""
    return ((w * bpp + 3) // 4) * 4


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """A RIFF chunk: fourcc + size + payload, padded to even length."""
    return fourcc + struct.pack("<I", len(payload)) + payload + b"\x00" * (
        len(payload) & 1
    )


def _list(listtype: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", listtype + payload)


def encode_avi_gray(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Serialize same-shaped uint8 grayscale frames as an uncompressed
    8-bit-palette DIB AVI (the format real capture tools emit for raw
    grayscale video). Round-trips exactly through walk_avi_frames."""
    if not frames:
        raise ValueError("an AVI needs at least one frame")
    h, w = frames[0].shape
    if any(f.shape != (h, w) or f.dtype != np.uint8 for f in frames):
        raise ValueError("frames must share one (h, w) uint8 shape")
    row_bytes = _pad_row(w, 1)
    frame_bytes = row_bytes * h
    avih = struct.pack(
        _AVIH_FMT,
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX off, AVIF_WASCAPTUREFILE-ish
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_bytes,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = struct.pack(
        _STRH_FMT,
        b"vids", b"DIB ",
        0, 0, 0, 0,  # flags, (prio, lang), initial frames
        1, fps,  # dwScale / dwRate -> fps
        0, len(frames),  # start, length (frames)
        frame_bytes, 0xFFFFFFFF, 0,  # bufsize, quality(-1), samplesize
        0, 0, w, h,  # rcFrame
    )
    bmih = struct.pack(
        _BMIH_FMT, 40, w, h, 1, 8, 0, frame_bytes, 0, 0, 256, 0
    )
    palette = bytes(
        b for v in range(256) for b in (v, v, v, 0)  # BGR0 grayscale ramp
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", bmih + palette)),
    )
    movi_frames = []
    pad = row_bytes - w
    for f in frames:
        rows = f[::-1]  # DIB stores rows bottom-up
        if pad:
            rows = np.pad(rows, ((0, 0), (0, pad)))
        movi_frames.append(_chunk(b"00db", rows.tobytes()))
    movi = _list(b"movi", b"".join(movi_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over a RIFF region,
    honoring the even-byte chunk alignment."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        payload = pos + 8
        if payload + size > end:
            raise ValueError("truncated AVI chunk")
        yield fourcc, payload, size
        pos = payload + size + (size & 1)


def _find_list(data: bytes, start: int, end: int, listtype: bytes):
    for fourcc, off, size in _iter_chunks(data, start, end):
        if fourcc == b"LIST" and data[off : off + 4] == listtype:
            return off + 4, off + size
    raise ValueError(f"AVI missing LIST {listtype.decode()}")


def _decode_dib_frame(
    payload: bytes,
    w: int,
    h: int,
    bitcount: int,
    palette: np.ndarray | None,
    topdown: bool = False,
) -> np.ndarray:
    row_bytes = _pad_row(w, bitcount // 8)
    if len(payload) < row_bytes * h:
        raise ValueError("truncated AVI frame payload")
    rows = np.frombuffer(payload[: row_bytes * h], dtype=np.uint8).reshape(
        h, row_bytes
    )
    if not topdown:
        rows = rows[::-1]  # bottom-up (positive biHeight) -> top-down
    if bitcount == 8:
        idx = rows[:, :w]
        if palette is None:
            return idx.copy()
        # palette rows are BGR0; grayscale ramps map index -> itself,
        # arbitrary palettes map through BT.601 like any RGB decode
        rgb = palette[idx][..., [2, 1, 0]]
        return to_gray(rgb)
    # 24-bit BGR
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    return to_gray(bgr[..., ::-1])


def walk_avi_frames(
    data: bytes, every_n: int = 1
) -> list[tuple[int, np.ndarray]]:
    """Parse an uncompressed DIB AVI and return [(frame_idx, gray
    uint8 2-D array)] for every ``every_n``-th frame. Raises ValueError
    on anything that is not a walkable uncompressed AVI (compressed
    codec, non-video first stream, truncated chunks, rasters above the
    pdfio OOM bound) — callers turn that into typed skips."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI payload")
    end = min(len(data), 8 + struct.unpack_from("<I", data, 4)[0])
    hdrl_s, hdrl_e = _find_list(data, 12, end, b"hdrl")
    strl_s, strl_e = _find_list(data, hdrl_s, hdrl_e, b"strl")
    strh = strf = None
    for fourcc, off, size in _iter_chunks(data, strl_s, strl_e):
        if fourcc == b"strh":
            strh = struct.unpack_from(_STRH_FMT, data, off)
        elif fourcc == b"strf":
            strf = data[off : off + size]
    if strh is None or strf is None or len(strf) < 40:
        raise ValueError("AVI stream headers missing or short")
    if strh[0] != b"vids":
        raise ValueError("first AVI stream is not video")
    (_, w, h, _, bitcount, compression, *_rest) = struct.unpack_from(
        _BMIH_FMT, strf, 0
    )
    topdown = h < 0  # negative biHeight = rows already top-down
    h = abs(h)
    if compression != 0:
        raise ValueError(
            "compressed AVI codec — decoding requires PyAV/ffmpeg"
        )
    if bitcount not in (8, 24):
        raise ValueError(f"unsupported DIB bit depth {bitcount}")
    if w <= 0 or h <= 0 or w * h > _MAX_RASTER_PX:
        raise ValueError(f"AVI frame raster {w}x{h} outside sane bounds")
    palette = None
    if bitcount == 8 and len(strf) >= 40 + 256 * 4:
        palette = np.frombuffer(strf[40 : 40 + 256 * 4], dtype=np.uint8).reshape(
            256, 4
        )
    movi_s, movi_e = _find_list(data, 12, end, b"movi")
    out = []
    idx = 0
    for fourcc, off, size in _iter_chunks(data, movi_s, movi_e):
        # ##db = uncompressed DIB frame for stream ##; skip index/other
        if fourcc[2:4] == b"db":
            if idx % every_n == 0:
                out.append(
                    (idx, _decode_dib_frame(data[off : off + size], w, h,
                                            bitcount, palette, topdown))
                )
            idx += 1
    if idx == 0:
        raise ValueError("AVI movi list contains no uncompressed frames")
    return out
