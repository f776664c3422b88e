"""The Arrow-vectorized UDF stage of the media branch.

One `mapInPandas` stage runs the whole per-page flow (deskew -> split ->
preprocess -> extract -> merge) locally, one input row at a time. A row
is a media span, a pdf span the plan could not fan out, or one row of a
fanned-out SPDF span: its container check or one of its pages
(pipeline._page_rows). The page fan-in is Catalyst SQL in the
reassembly (pipeline._FAN_IN), so a 500-page pdf spreads over every task
and no page waits for another.

The stage is Arrow-batched; the per-image work inside a batch is
numpy/bulk — there are no Spark row-at-a-time Python UDFs anywhere in the
engine (BASELINE.json input_hint).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd

from ocr_spark.config import EngineProfile
from ocr_spark.core import (
    PDF_DPI,
    MediaResult,
    open_pdf,
    process_media_bytes,
    process_pdf_bytes,
    process_pdf_page,
)
from ocr_spark.pdfio import render_spdf_page

__all__ = ["make_fused_extract"]


def _as_bytes(v) -> bytes | None:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return bytes(v)


def _process_row(
    kind, page, payload: bytes | None, profile: EngineProfile
) -> MediaResult:
    if kind != "pdf":
        return process_media_bytes(payload, profile)
    if pd.isna(page):  # a pdf span that was not fanned out
        return process_pdf_bytes(payload, profile)
    if page < 0:  # the container check of a fanned-out span
        return MediaResult(skipped=open_pdf(payload) is None)
    return process_pdf_page(partial(render_spdf_page, payload, PDF_DPI), profile)


def make_fused_extract(profile: EngineProfile):
    """mapInPandas fn: (doc_id, span_pos, kind, media_ref, offset, page,
    png, ...) -> SPAN_RESULT_SCHEMA rows, one per input row."""

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
            pages = b["page"].to_numpy(dtype=object)
            pngs = b["png"].to_numpy(dtype=object)
            for i in range(n):
                t0 = time.perf_counter()
                res = _process_row(kinds[i], pages[i], _as_bytes(pngs[i]), profile)
                texts[i] = res.text
                confs[i] = res.confidence
                steps[i] = res.steps_applied
                methods[i] = res.split_method
                skipped[i] = res.skipped
                elapsed[i] = int((time.perf_counter() - t0) * 1000)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "span_pos": b["span_pos"],
                    "kind": b["kind"],
                    "text": texts,
                    "media_ref": b["media_ref"],
                    "offset": b["offset"],
                    "page": b["page"],
                    "confidence": confs,
                    "steps_applied": steps,
                    "split_method": methods,
                    "skipped": skipped,
                    "elapsed_ms": elapsed,
                }
            )

    return fn
