"""Single-process document processor — the per-row kernel AND the oracle.

`process_image` is the faithful restatement of the reference's per-page
flow (ImageProcessor.process + process_with_ocr,
/root/reference/app/ocr/processor.py:136-221,281-344):

    global deskew -> content-aware split -> per-chunk preprocess
    (deskew disabled per-chunk, processor.py:103) -> per-chunk extract ->
    reading-order merge with overlap dedup

`process_document` applies the kind-branched span semantics of the whole
service (text -> boilerplate strip; media -> image flow; pdf -> per-page
fan-out + page markers + avg confidence, app/worker/tasks.py:182-213) and
returns the re-emitted ordered spans plus metrics.

The Spark pipeline (ocr_spark/spark/pipeline.py) decomposes this exact
flow into distributed stages; `tests/` assert span-sequence equality
between the two (the BASELINE.json input_hint invariant).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field, replace
from functools import partial

import numpy as np

from ocr_spark.config import EngineProfile, get_profile
from ocr_spark.extract.glyph import extract_text
from ocr_spark.imaging.png import decode_png
from ocr_spark.imaging.preprocess import global_deskew_ex, preprocess
from ocr_spark.merge.merger import ChunkText, merge_chunks
from ocr_spark.pdfio import is_pdf, render_pages
from ocr_spark.splitting.split import smart_split
from ocr_spark.textproc.boilerplate import extract_main_content

PAGE_MARKER = "=== Page {i} of {n} ==="  # tasks.py:190-192


@dataclass
class MediaResult:
    text: str = ""
    confidence: float = 0.0
    steps_applied: list[str] = field(default_factory=list)
    split_method: str = "none"
    n_chunks: int = 0
    skipped: bool = False


def process_image(img: np.ndarray, profile: EngineProfile) -> MediaResult:
    """Full single-page flow on a decoded image."""
    pre_cfg = profile.preprocess
    steps: set[str] = set()

    # 1. global deskew before splitting (processor.py:159-164); keeps the
    # gray/noise/Sobel intermediates for the passthrough-chunk analysis
    reuse = None
    if pre_cfg.auto_deskew:
        img, was_deskewed, _angle, reuse = global_deskew_ex(img, pre_cfg)
        if was_deskewed:
            steps.add("global_deskew")

    # 2. split cascade (splitter.py:50-76)
    outcome = smart_split(img, profile.split)

    # 3. per-chunk preprocess (deskew force-disabled, processor.py:103).
    # The common single-chunk passthrough hands the SAME page object back
    # (split.py _single_chunk), so the global pass's analysis reuses
    # bit-identically; any real split produces new arrays -> no reuse.
    chunk_cfg = replace(pre_cfg, auto_deskew=False)
    chunk_texts: list[ChunkText] = []
    confs: list[float] = []
    for chunk in outcome.chunks:
        pres = preprocess(
            chunk.image, chunk_cfg, reuse=reuse if chunk.image is img else None
        )
        steps.update(pres.steps_applied)
        text, conf = extract_text(pres.image)
        chunk_texts.append(
            ChunkText(row=chunk.row, col=chunk.col, text=text, confidence=conf)
        )
        confs.append(conf)

    # 4. merge (merger.py:90-117); single chunk short-circuits inside
    merged = merge_chunks(chunk_texts, profile.merge)
    confidence = float(np.mean(confs)) if confs else 0.0
    return MediaResult(
        text=merged,
        confidence=confidence,
        steps_applied=sorted(steps),
        split_method=outcome.split_method,
        n_chunks=len(outcome.chunks),
    )


def process_media_bytes(png: bytes | None, profile: EngineProfile) -> MediaResult:
    """Decode + process; invalid payloads become a skip, never an exception
    (file_validation.py:149-162 contract)."""
    if not png:
        return MediaResult(skipped=True)
    try:
        img = decode_png(png)
    except Exception:  # noqa: BLE001 — any decode failure = skip
        return MediaResult(skipped=True)
    return process_image(img, profile)


PDF_DPI = 300  # pdf pages render at zoom = dpi/72 (pdf_service.py:106-109)


def open_pdf(data: bytes | None) -> Sequence[np.ndarray] | None:
    """The pages of a pdf payload, or None when the container does not
    parse: a counted skip. SPDF pages render as they are read, so the
    container checks (header walk, metadata, every page's zoomed size)
    run here and no page is decoded yet."""
    if not data or not is_pdf(data):
        return None
    try:
        return render_pages(data, dpi=PDF_DPI)
    except Exception:  # noqa: BLE001 — any parse failure = skip
        return None


def process_pdf_page(
    read_page: Callable[[], np.ndarray], profile: EngineProfile
) -> MediaResult:
    """One pdf page: a page that fails to render is a skip (of the whole
    span, see fan_in_pages), while an error inside process_image
    propagates."""
    try:
        page = read_page()
    except Exception:  # noqa: BLE001
        return MediaResult(skipped=True)
    return process_image(page, profile)


def fan_in_pages(pages: list[MediaResult]) -> MediaResult:
    """Page-marker fan-in (tasks.py:182-213): page texts under markers,
    mean confidence, the union of steps and split methods."""
    n = len(pages)
    # a plain left-to-right sum (Python's sum() compensates), the order
    # the Catalyst fan-in (pipeline._FAN_IN) adds in
    total_conf = 0.0
    for p in pages:
        total_conf += p.confidence
    methods = sorted({p.split_method for p in pages})
    return MediaResult(
        text="\n\n".join(
            f"{PAGE_MARKER.format(i=i, n=n)}\n{p.text}" for i, p in enumerate(pages, 1)
        ),
        confidence=total_conf / n if n else 0.0,
        steps_applied=sorted({s for p in pages for s in p.steps_applied}),
        split_method=",".join(methods) if methods else "none",
        n_chunks=n,
    )


def process_pdf_bytes(data: bytes | None, profile: EngineProfile) -> MediaResult:
    """Per-page fan-out + page-marker fan-in (tasks.py:182-213). One
    zoomed page is alive at a time, and the first page that fails to
    render ends the span as a skip."""
    pages = open_pdf(data)
    if pages is None:
        return MediaResult(skipped=True)
    results: list[MediaResult] = []
    for i in range(len(pages)):
        res = process_pdf_page(partial(pages.__getitem__, i), profile)
        if res.skipped:
            return res
        results.append(res)
    return fan_in_pages(results)


def process_document(
    doc_id: str,
    spans: list[dict],
    media_lookup,
    profile: EngineProfile | str = "default",
) -> tuple[list[dict], dict]:
    """Process one document's spans; returns (out_spans, metrics).

    `spans` are dicts with kind/text/media_ref/offset; `media_lookup` maps
    media_ref -> bytes|None.  Output spans preserve (kind, media_ref,
    offset) and re-emit text — the span-sequence-equality contract.
    """
    if isinstance(profile, str):
        profile = get_profile(profile)

    out: list[dict] = []
    skipped = 0
    n_media = 0
    n_text = 0
    steps: set[str] = set()
    methods: set[str] = set()
    confs: list[float] = []

    for span in sorted(spans, key=lambda s: s["offset"]):
        kind = span["kind"]
        if kind == "text":
            n_text += 1
            new_text = extract_main_content(span.get("text") or "")
        elif kind in ("media", "pdf"):
            n_media += 1
            payload = media_lookup(span.get("media_ref") or "")
            if kind == "pdf":
                res = process_pdf_bytes(payload, profile)
            else:
                res = process_media_bytes(payload, profile)
            if res.skipped:
                skipped += 1
                new_text = ""
            else:
                new_text = res.text
                confs.append(res.confidence)
                steps.update(res.steps_applied)
                methods.add(res.split_method)
        else:
            skipped += 1
            new_text = ""
        out.append(
            {
                "kind": kind,
                "text": new_text,
                "media_ref": span.get("media_ref") or "",
                "offset": int(span["offset"]),
            }
        )

    # Canonical OUTPUT order: the total order over the emitted struct
    # (offset, kind, text, media_ref) — exactly what the distributed
    # reassembly's array_sort applies. Python's stable input sort alone
    # would keep INPUT order for duplicate offsets, an order an
    # unordered groupBy cannot observe, silently breaking span-sequence
    # equality on malformed docs that reuse an offset. A no-op when
    # offsets are unique (the well-formed case). UTF-8 byte order ==
    # code-point order, so Python str comparison matches Spark's binary
    # string ordering.
    out.sort(key=lambda s: (s["offset"], s["kind"], s["text"], s["media_ref"]))
    metrics = {
        "n_spans": len(out),
        "n_media": n_media,
        "n_text": n_text,
        "skipped": skipped,
        "steps_applied": sorted(steps),
        "split_methods": sorted(methods),
        "ocr_confidence": float(np.mean(confs)) if confs else 0.0,
        "elapsed_ms": 0,
    }
    return out, metrics
