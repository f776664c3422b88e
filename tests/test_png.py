import numpy as np
import pytest

from ocr_spark.imaging.png import decode_png, encode_png


@pytest.mark.parametrize("shape", [(7, 5), (16, 9, 3), (8, 8, 4)])
def test_roundtrip(shape):
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_roundtrip_large_gray():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(512, 321), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.dtype == np.uint8 and np.array_equal(out, img)


@pytest.mark.parametrize("junk", [b"", b"not a png", b"\x89PNG\r\n\x1a\n" + b"xx"])
def test_reject_garbage(junk):
    with pytest.raises(ValueError):
        decode_png(junk)


def test_reject_bad_dims():
    with pytest.raises(ValueError):
        encode_png(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError):
        encode_png(np.zeros((4, 4), dtype=np.float32))


def _filtered_png(img: np.ndarray, filters: list[int]) -> bytes:
    """PNG bytes of `img` with scanline y written under filter
    filters[y] (0 None, 1 Sub, 2 Up), as an external writer would."""
    import struct
    import zlib

    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    rows = img.reshape(h, w * ch).astype(np.int16)
    lines = []
    for y, f in enumerate(filters):
        if f == 1:
            left = np.concatenate([np.zeros(ch, np.int16), rows[y, :-ch]])
            line = rows[y] - left
        elif f == 2:
            line = rows[y] - (rows[y - 1] if y else 0)
        else:
            line = rows[y]
        lines.append(bytes([f]) + (line & 0xFF).astype(np.uint8).tobytes())

    def chunk(tag, payload):
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(11, 7), (9, 6, 3), (10, 5, 4)])
def test_decode_mixed_none_sub_up_rows(shape):
    """Rows under filters 0, 1 and 2 in one image — an Up row first, Up
    runs of several rows, Up over a Sub row and Sub over an Up row —
    decode to the exact pixels."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    filters = [2, 2, 1, 2, 0, 1, 1, 2, 2, 2, 0][: shape[0]]
    assert np.array_equal(decode_png(_filtered_png(img, filters)), img)


def test_decode_sub_page_is_vectorized():
    """A 2 MP page written with Sub on every row decodes exactly, and in
    well under the ~6 s a per-byte loop took on a 4-vCPU host."""
    import time

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(1400, 1500), dtype=np.uint8)
    data = _filtered_png(img, [1] * img.shape[0])
    t0 = time.perf_counter()
    out = decode_png(data)
    assert time.perf_counter() - t0 < 2.0
    assert np.array_equal(out, img)


# --------------------------------------------------------------------------
# decompression bombs: a small payload whose IDAT inflates far past what
# its IHDR allows must be a counted skip in bounded memory
# --------------------------------------------------------------------------

_BOMB_MB = 400


@pytest.fixture(scope="module")
def zero_stream():
    """A zlib stream that inflates to ~400 MB of zeros (~1.8 MB
    compressed), built in 1 MB pieces so the test never holds it
    inflated."""
    import zlib

    c = zlib.compressobj(1)
    zeros = bytes(1 << 20)
    parts = [c.compress(zeros) for _ in range(_BOMB_MB)]
    parts.append(c.flush())
    return b"".join(parts)


def _png_with(width: int, height: int, idat: bytes) -> bytes:
    import struct
    import zlib

    def chunk(tag, payload):
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _skip_peak_mb(payload: bytes) -> tuple[int, float]:
    """(skipped count, tracemalloc peak in MB) of one media span over
    `payload` through the oracle."""
    import tracemalloc

    from ocr_spark.core import process_document

    spans = [{"kind": "media", "text": "", "media_ref": "m", "offset": 0}]
    tracemalloc.start()
    try:
        _, metrics = process_document("d", spans, {"m": payload}.get)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return metrics["skipped"], peak / 2**20


@pytest.mark.parametrize("dims", [(20000, 20000), (1, 1)], ids=["huge_ihdr", "tiny_ihdr"])
def test_png_bomb_is_bounded_skip(zero_stream, dims):
    """A 20000x20000 IHDR is refused before any inflate; a 1x1 IHDR over
    the same ~400 MB zero stream stops inflating one byte past its
    2-byte scanline. Both are counted skips under 16 MB of Python
    allocations."""
    payload = _png_with(*dims, zero_stream)
    with pytest.raises(ValueError, match="bound|inflates past"):
        decode_png(payload)
    skipped, peak_mb = _skip_peak_mb(payload)
    assert skipped == 1
    assert peak_mb < 16, f"peak {peak_mb:.1f} MB"


def test_truncated_idat_still_rejected():
    """A stream cut before its end is refused, as the one-shot inflate
    refused it: the bounded inflate checks that the stream ended."""
    import zlib

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(8))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(_png_with(8, 8, zlib.compress(raw)[:-4]))
    assert np.array_equal(decode_png(_png_with(8, 8, zlib.compress(raw))), img)


def test_pdf_flate_stream_is_bounded(zero_stream):
    """A FlateDecode stream over the same zero stream is refused once it
    inflates past the walker's raster bound, instead of inflating all
    ~400 MB."""
    import zlib

    from ocr_spark.pdfio import _MAX_RASTER_PX, _pdf_stream_decoded

    assert _MAX_RASTER_PX < _BOMB_MB << 20
    body = (
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(zero_stream)
        + zero_stream
        + b"\nendstream"
    )
    with pytest.raises(ValueError, match="inflates past"):
        _pdf_stream_decoded(body)
    ops = b"q 1 0 0 1 0 0 cm Q"
    small = b"<< /Filter /FlateDecode >>\nstream\n" + zlib.compress(ops) + b"\nendstream"
    assert _pdf_stream_decoded(small) == ops
