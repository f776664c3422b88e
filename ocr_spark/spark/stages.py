"""Arrow-vectorized UDF stages of the media branch.

Two physical decompositions of the same per-span semantics
(ocr_spark.core.process_media_bytes / process_pdf_bytes):

* **fused** — one `mapInPandas` stage runs the whole per-span flow
  (deskew -> split -> preprocess -> extract -> merge) locally. Fewest
  Arrow hops and no chunk shuffle; task granularity = one span.
* **staged** — the SURVEY.md §2.8 four-UDF pipeline: pdf fan-out ->
  split fan-out (one row per chunk) -> per-chunk extract -> grouped
  merge. One extra shuffle + PNG re-encode per chunk, but a 500-page PDF
  or a 16-chunk page spreads across executors instead of pinning one
  task — the skew-defeating path for heavy documents.

Both are Arrow-batched (`mapInPandas` / `applyInPandas`); the per-image
work inside a batch is numpy/bulk — there are no Spark row-at-a-time
Python UDFs anywhere in the engine (BASELINE.json input_hint).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import replace

import numpy as np
import pandas as pd

from ocr_spark.config import EngineProfile
from ocr_spark.core import (
    PAGE_MARKER,
    process_media_bytes,
    process_pdf_bytes,
)
from ocr_spark.extract.glyph import extract_text
from ocr_spark.imaging.png import decode_png, encode_png
from ocr_spark.imaging.preprocess import global_deskew, preprocess
from ocr_spark.merge.merger import ChunkText, merge_chunks
from ocr_spark.pdfio import is_pdf, render_pages
from ocr_spark.splitting.split import smart_split

__all__ = [
    "PAGE_MARKER",
    "make_fused_extract",
    "make_pdf_fanout",
    "make_split_stage",
    "make_extract_stage",
    "make_merge_group",
]


def _as_bytes(v) -> bytes | None:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return bytes(v)


# --------------------------------------------------------------------------
# fused path: one mapInPandas over media/pdf span rows
# --------------------------------------------------------------------------


def make_fused_extract(profile: EngineProfile):
    """mapInPandas fn: (doc_id, kind, media_ref, offset, png) ->
    SPAN_RESULT_SCHEMA rows, one per input span."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n = len(b)
            texts = [""] * n
            confs = np.zeros(n)
            steps: list[list[str]] = [[] for _ in range(n)]
            methods = ["none"] * n
            skipped = np.zeros(n, dtype=bool)
            elapsed = np.zeros(n, dtype=np.int64)
            kinds = b["kind"].to_numpy()
            pngs = b["png"].to_numpy(dtype=object)
            for i in range(n):
                t0 = time.perf_counter()
                payload = _as_bytes(pngs[i])
                if kinds[i] == "pdf":
                    res = process_pdf_bytes(payload, profile)
                else:
                    res = process_media_bytes(payload, profile)
                texts[i] = res.text
                confs[i] = res.confidence
                steps[i] = res.steps_applied
                methods[i] = res.split_method
                skipped[i] = res.skipped
                elapsed[i] = int((time.perf_counter() - t0) * 1000)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "kind": b["kind"],
                    "text": texts,
                    "media_ref": b["media_ref"],
                    "offset": b["offset"],
                    "confidence": confs,
                    "steps_applied": steps,
                    "split_method": methods,
                    "skipped": skipped,
                    "elapsed_ms": elapsed,
                }
            )

    return fn


# --------------------------------------------------------------------------
# staged path, stage 0: pdf fan-out (S2 — one row per rendered page)
# --------------------------------------------------------------------------


def make_pdf_fanout(profile: EngineProfile, dpi: int = 300):
    """mapInPandas fn: span rows -> PAGE_SCHEMA rows.

    media spans pass through as a single page (page_idx=0); pdf spans
    render to one row per page at zoom dpi/72
    (/root/reference/app/services/pdf_service.py:106-109). Sentinel rows
    (page_idx=-1) carry invalid-payload skips and zero-page pdfs.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id offset kind media_ref page_idx n_pages png skipped".split()
                )
            }

            def emit(row, page_idx, n_pages, png, skipped):
                out["doc_id"].append(row.doc_id)
                out["offset"].append(row.offset)
                out["kind"].append(row.kind)
                out["media_ref"].append(row.media_ref)
                out["page_idx"].append(page_idx)
                out["n_pages"].append(n_pages)
                out["png"].append(png)
                out["skipped"].append(skipped)

            for row in b.itertuples():
                payload = _as_bytes(row.png)
                if row.kind != "pdf":
                    if payload is None:
                        emit(row, -1, 0, None, True)
                    else:
                        emit(row, 0, 1, payload, False)
                    continue
                if payload is None or not is_pdf(payload):
                    emit(row, -1, 0, None, True)
                    continue
                try:  # every page, so a bad one skips the span before any emit
                    pages = list(render_pages(payload, dpi=dpi))
                except Exception:  # noqa: BLE001 — decode failure = skip
                    emit(row, -1, 0, None, True)
                    continue
                if not pages:
                    emit(row, -1, 0, None, False)  # valid but empty pdf
                    continue
                n = len(pages)
                for i, page in enumerate(pages):
                    emit(row, i, n, encode_png(page), False)
            yield pd.DataFrame(out)

    return fn


# --------------------------------------------------------------------------
# staged path, stage 1: global deskew + split cascade (one row per chunk)
# --------------------------------------------------------------------------


def make_split_stage(profile: EngineProfile, chunk_codec: str = "raw"):
    """mapInPandas fn: PAGE_SCHEMA rows -> CHUNK_SCHEMA rows.

    chunk_codec="raw": chunk pixels ride the shuffle as uint8 bytes
    (lz4 block compression); "png": zlib-encode each chunk before the
    shuffle — ~5-10x smaller on mostly-white pages at extra CPU on both
    sides of the shuffle. Measured comparison in BENCH/BASELINE.md; raw
    is the default, png is the knob for shuffle-bound clusters."""
    pre_cfg = profile.preprocess
    use_png = chunk_codec == "png"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id offset kind media_ref page_idx n_pages row col "
                    "chunk_raw chunk_h chunk_w chunk_ch split_method "
                    "global_steps skipped".split()
                )
            }

            def emit(r, row, col, img, method, gsteps, skipped):
                out["doc_id"].append(r.doc_id)
                out["offset"].append(r.offset)
                out["kind"].append(r.kind)
                out["media_ref"].append(r.media_ref)
                out["page_idx"].append(r.page_idx)
                out["n_pages"].append(r.n_pages)
                out["row"].append(row)
                out["col"].append(col)
                if img is None:
                    out["chunk_raw"].append(None)
                    out["chunk_h"].append(0)
                    out["chunk_w"].append(0)
                    out["chunk_ch"].append(0)
                else:
                    if use_png:
                        out["chunk_raw"].append(encode_png(img))
                    else:
                        out["chunk_raw"].append(np.ascontiguousarray(img).tobytes())
                    out["chunk_h"].append(img.shape[0])
                    out["chunk_w"].append(img.shape[1])
                    out["chunk_ch"].append(1 if img.ndim == 2 else img.shape[2])
                out["split_method"].append(method)
                out["global_steps"].append(gsteps)
                out["skipped"].append(skipped)

            for r in b.itertuples():
                if r.skipped or r.page_idx < 0:
                    emit(r, -1, -1, None, "none", [], bool(r.skipped))
                    continue
                try:
                    img = decode_png(_as_bytes(r.png))
                except Exception:  # noqa: BLE001
                    emit(r, -1, -1, None, "none", [], True)
                    continue
                gsteps: list[str] = []
                if pre_cfg.auto_deskew:
                    img, was_deskewed, _ = global_deskew(img, pre_cfg)
                    if was_deskewed:
                        gsteps = ["global_deskew"]
                outcome = smart_split(img, profile.split)
                for chunk in outcome.chunks:
                    emit(
                        r,
                        chunk.row,
                        chunk.col,
                        chunk.image,
                        outcome.split_method,
                        gsteps,
                        False,
                    )
            yield pd.DataFrame(out)

    return fn


# --------------------------------------------------------------------------
# staged path, stage 2: per-chunk preprocess + extract
# --------------------------------------------------------------------------


def make_extract_stage(profile: EngineProfile, chunk_codec: str = "raw"):
    """mapInPandas fn: CHUNK_SCHEMA rows -> CHUNK_TEXT_SCHEMA rows.

    Per-chunk deskew is force-disabled — the global pass already aligned
    the page (/root/reference/app/ocr/processor.py:95-110)."""
    chunk_cfg = replace(profile.preprocess, auto_deskew=False)
    use_png = chunk_codec == "png"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n = len(b)
            texts = [""] * n
            confs = np.zeros(n)
            steps: list[list[str]] = [[] for _ in range(n)]
            raws = b["chunk_raw"].to_numpy(dtype=object)
            hs = b["chunk_h"].to_numpy()
            ws = b["chunk_w"].to_numpy()
            chs = b["chunk_ch"].to_numpy()
            gsteps = b["global_steps"].to_numpy(dtype=object)
            skipped = b["skipped"].to_numpy()
            for i in range(n):
                raw = _as_bytes(raws[i])
                if skipped[i] or raw is None:
                    steps[i] = list(gsteps[i]) if gsteps[i] is not None else []
                    continue
                if use_png:
                    img = decode_png(raw)
                else:
                    shape = (
                        (int(hs[i]), int(ws[i]))
                        if chs[i] == 1
                        else (int(hs[i]), int(ws[i]), int(chs[i]))
                    )
                    img = np.frombuffer(raw, dtype=np.uint8).reshape(shape)
                pres = preprocess(img, chunk_cfg)
                text, conf = extract_text(pres.image)
                texts[i] = text
                confs[i] = conf
                steps[i] = sorted(set(list(gsteps[i]) + list(pres.steps_applied)))
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "offset": b["offset"],
                    "kind": b["kind"],
                    "media_ref": b["media_ref"],
                    "page_idx": b["page_idx"],
                    "n_pages": b["n_pages"],
                    "row": b["row"],
                    "col": b["col"],
                    "text": texts,
                    "confidence": confs,
                    "steps_applied": steps,
                    "split_method": b["split_method"],
                    "skipped": skipped,
                }
            )

    return fn


# --------------------------------------------------------------------------
# staged path, stage 3: reading-order merge per (doc, offset, page)
# --------------------------------------------------------------------------


def make_merge_group(profile: EngineProfile):
    """applyInPandas fn over groupBy(doc_id, offset, page_idx):
    CHUNK_TEXT rows -> one PAGE_TEXT row (M1-M5 via merge_chunks)."""
    merge_cfg = profile.merge

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        head = pdf.iloc[0]
        base = {
            "doc_id": [head["doc_id"]],
            "offset": [head["offset"]],
            "kind": [head["kind"]],
            "media_ref": [head["media_ref"]],
            "page_idx": [head["page_idx"]],
            "n_pages": [head["n_pages"]],
        }
        # (row, col) order: the shuffle delivers group rows in arrival
        # order, but the oracle averages chunk confidences in split
        # (row-major) order — float means are order-sensitive in the
        # last ulp, and reruns must be bit-reproducible
        real = pdf[(pdf["row"] >= 0) & (~pdf["skipped"])].sort_values(
            ["row", "col"]
        )
        if len(real) == 0:
            return pd.DataFrame(
                {
                    **base,
                    "text": [""],
                    "confidence": [0.0],
                    "steps_applied": [[]],
                    "split_method": ["none"],
                    "skipped": [bool(pdf["skipped"].any())],
                }
            )
        chunk_texts = [
            ChunkText(
                row=int(r.row), col=int(r.col), text=r.text, confidence=float(r.confidence)
            )
            for r in real.itertuples()
        ]
        merged = merge_chunks(chunk_texts, merge_cfg)
        all_steps = sorted({s for lst in real["steps_applied"] for s in lst})
        return pd.DataFrame(
            {
                **base,
                "text": [merged],
                "confidence": [float(np.mean(real["confidence"].to_numpy()))],
                "steps_applied": [all_steps],
                "split_method": [str(real["split_method"].iloc[0])],
                "skipped": [False],
            }
        )

    return fn
