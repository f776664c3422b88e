"""End-to-end single-process flow over the fixture corpus classes."""

import numpy as np
import pytest

from ocr_spark.config import get_profile
from ocr_spark.core import process_document, process_image, process_media_bytes
from ocr_spark.fixtures import PAGE_CLASSES, build_corpus

PROFILE = get_profile("got")


@pytest.mark.parametrize("name,fn", PAGE_CLASSES)
def test_every_page_class_processes(name, fn):
    rng = np.random.default_rng(11)
    page = fn(rng)
    prof = get_profile("qari") if name == "rtl" else PROFILE
    res = process_image(page, prof)
    assert not res.skipped
    expected_method = {
        "projection": "projection",
        "components": "components",
        "grid": "grid",
    }.get(name, "none")
    assert res.split_method == expected_method
    assert res.confidence > 0.5
    assert res.text  # decoded something


def test_skewed_page_applies_global_deskew():
    rng = np.random.default_rng(3)
    from ocr_spark.fixtures import page_skewed

    res = process_image(page_skewed(rng), PROFILE)
    assert "global_deskew" in res.steps_applied
    assert res.confidence == 1.0


def test_invalid_media_skips():
    assert process_media_bytes(None, PROFILE).skipped
    assert process_media_bytes(b"", PROFILE).skipped
    assert process_media_bytes(b"not-a-png", PROFILE).skipped


def test_process_document_contract():
    docs, media = build_corpus(n_docs=30, seed=42)
    lookup = {m["media_ref"]: m["png"] for m in media}
    for doc in docs:
        out, metrics = process_document(
            doc["doc_id"], doc["spans"], lambda r: lookup.get(r), "got"
        )
        # span-sequence shape invariants
        assert len(out) == len(doc["spans"])
        assert [s["offset"] for s in out] == sorted(s["offset"] for s in doc["spans"])
        for orig, new in zip(sorted(doc["spans"], key=lambda s: s["offset"]), out):
            assert new["kind"] == orig["kind"]
            assert new["media_ref"] == (orig.get("media_ref") or "")
        assert metrics["n_spans"] == len(out)
        assert metrics["n_media"] + metrics["n_text"] == len(out)


def test_planted_invalid_ref_increments_skip():
    docs, media = build_corpus(n_docs=30, seed=42)
    lookup = {m["media_ref"]: m["png"] for m in media}
    bad_docs = [
        d
        for d in docs
        if any(s["media_ref"] == "med_missing_ref" for s in d["spans"])
    ]
    assert bad_docs, "corpus must plant at least one invalid ref"
    for doc in bad_docs:
        out, metrics = process_document(
            doc["doc_id"], doc["spans"], lambda r: lookup.get(r), "got"
        )
        assert metrics["skipped"] >= 1
        bad = [s for s in out if s["media_ref"] == "med_missing_ref"]
        assert bad and bad[0]["text"] == ""


def test_pdf_document_page_markers():
    docs, media = build_corpus(n_docs=120, seed=42)
    lookup = {m["media_ref"]: m["png"] for m in media}
    pdf_docs = [d for d in docs if any(s["kind"] == "pdf" for s in d["spans"])]
    assert pdf_docs, "corpus must contain pdf docs"
    doc = pdf_docs[0]
    out, metrics = process_document(
        doc["doc_id"], doc["spans"], lambda r: lookup.get(r), "got"
    )
    pdf_span = next(s for s in out if s["kind"] == "pdf")
    assert "=== Page 1 of" in pdf_span["text"]
    assert metrics["ocr_confidence"] > 0.5


def test_text_span_boilerplate_stripped():
    docs, _media = build_corpus(n_docs=10, seed=42)
    text_doc = next(
        d for d in docs if d["spans"] and all(s["kind"] == "text" for s in d["spans"])
    )
    out, _ = process_document(text_doc["doc_id"], text_doc["spans"], lambda r: None)
    for span in out:
        assert "https://example.com" not in span["text"]
        assert "©" not in span["text"]


def _white_pdf(n_pages: int) -> bytes:
    from ocr_spark.pdfio import encode_pdf

    return encode_pdf([np.full((500, 500), 255, np.uint8)] * n_pages)


def test_pdf_pages_render_one_at_a_time():
    """An SPDF span holds one zoomed page at a time: the tracemalloc peak
    of an 8-page span stays within one zoomed page (~4.3 MB at 300 dpi)
    of the 2-page peak, where rendering every page up front added a
    zoomed page per page (74 / 99 MB for 2 / 8 pages)."""
    import tracemalloc

    from ocr_spark.core import process_pdf_bytes

    def peak(n_pages: int) -> int:
        data = _white_pdf(n_pages)
        process_pdf_bytes(data, PROFILE)  # first-call allocations out of the way
        tracemalloc.start()
        try:
            process_pdf_bytes(data, PROFILE)
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    zoomed = int(500 * 300 / 72) ** 2
    p2, p8 = peak(2), peak(8)
    assert p8 - p2 <= 1.2 * zoomed, (p2, p8)


def test_pdf_lazy_pages_match_eager_render():
    """Reading pages one at a time gives the span the same text,
    confidence and steps as processing the fully rendered page list."""
    from ocr_spark.core import PAGE_MARKER, process_pdf_bytes
    from ocr_spark.extract.glyph import render_page
    from ocr_spark.pdfio import encode_pdf, render_pages

    data = encode_pdf(
        [render_page([f"pg{i} abc"], 220, 120, margin=10) for i in range(3)]
    )
    got = process_pdf_bytes(data, PROFILE)
    pages = list(render_pages(data, dpi=300))
    want = [process_image(p, PROFILE) for p in pages]
    assert got.text == "\n\n".join(
        f"{PAGE_MARKER.format(i=i, n=3)}\n{r.text}" for i, r in enumerate(want, 1)
    )
    assert got.confidence == sum(r.confidence for r in want) / 3
    assert got.steps_applied == sorted({s for r in want for s in r.steps_applied})
    assert not got.skipped and got.n_chunks == 3


def test_pdf_bad_later_page_skips_span_kernel_error_propagates(monkeypatch):
    """A page that fails to decode after earlier pages were processed
    still makes the whole span a counted skip; an error raised inside
    page processing is not swallowed."""
    import struct

    from ocr_spark import core
    from ocr_spark.core import process_pdf_bytes

    data = bytearray(_white_pdf(3))
    # corrupt the last page's IDAT bytes (pages are length-prefixed PNGs)
    pos = 10
    for _ in range(2):
        pos += 4 + struct.unpack(">I", data[pos : pos + 4])[0]
    ln = struct.unpack(">I", data[pos : pos + 4])[0]
    idat = data.index(b"IDAT", pos)
    data[idat + 4 : pos + 4 + ln - 12] = b"\xff" * (pos + 4 + ln - 12 - idat - 4)
    assert process_pdf_bytes(bytes(data), PROFILE).skipped

    def boom(page, profile):
        raise RuntimeError("kernel bug")

    monkeypatch.setattr(core, "process_image", boom)
    with pytest.raises(RuntimeError, match="kernel bug"):
        process_pdf_bytes(_white_pdf(2), PROFILE)
