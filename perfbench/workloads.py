"""Seeded input generator for the extraction benchmark.

Every workload is a pure function of (name, seed, scale). It is built in
one process from the fixture encoders in `ocr_spark.fixtures` (PNG
filter 0 only) and written as a hive-partitioned corpus in the layout
`ocr_spark.spark.corpus` defines, so the job reads it exactly as it reads
an ingested table.

The page-class composition and the position of each class in the corpus
are fixed per workload; the seed draws the page and text content. A
heavy page therefore lands in the same span partition for every seed,
and a run's time does not depend on which seed placed a straggler where.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

from ocr_spark import fixtures as FX
from ocr_spark.extract.glyph import render_page
from ocr_spark.imaging.png import encode_png
from ocr_spark.pdfio import encode_pdf

# page classes by fixture name; the three >2 MP classes split into chunks
SMALL_CLASSES = (
    "clean", "skewed", "noisy", "low_contrast", "inverted", "color",
    "low_dpi", "rtl",
)
BIG_CLASSES = ("projection", "components", "grid")
# FX._CLASS_WEIGHTS as whole pages per 100 (clean 22 ... rtl 4)
FIXTURE_PAGES_PER_100 = {
    "clean": 22, "skewed": 14, "noisy": 10, "low_contrast": 10,
    "inverted": 10, "color": 10, "low_dpi": 8, "projection": 5,
    "components": 4, "grid": 3, "rtl": 4,
}
_PAGE_FN = dict(FX.PAGE_CLASSES)

# Each workload's size and how checkpoint.run_extraction_job runs it.
#   scale:           input size relative to the recipe's full size
#   layout_buckets:  bucket partitions the corpus is ingested with
#   n_buckets:       runtime buckets of the job
#   max_buckets:     buckets the first invocation commits before it stops
#                    (None: one invocation does everything)
#   span_partitions_per_core: the job's --span-partitions per core (None:
#                    the engine default, 8 per core; small buckets take 1)
# Sizes keep a run under a minute on 4 vCPUs: a run pays ~8 s of JVM
# start and ~20 s of cold Spark (class loading, codegen, Python worker
# start) before its timed passes, whatever the warm-up corpus's size.
JOBS = {
    "media_mix": {"scale": 0.5, "layout_buckets": 8, "n_buckets": 1,
                  "max_buckets": None, "span_partitions_per_core": None},
    "resume_buckets": {"scale": 0.35, "layout_buckets": 4, "n_buckets": 2,
                       "max_buckets": 1, "span_partitions_per_core": 1},
}
# Scale of each workload's warm-up corpus: the same recipe, so the same
# page classes, query plans and Python worker paths, for less work.
WARMUP_SCALE = 0.1


@dataclass
class Workload:
    name: str
    seed: int
    docs: list[dict] = field(default_factory=list)
    media: list[dict] = field(default_factory=list)
    # (doc_id, offset) of every span planted to be a counted skip
    planted: list[tuple[str, int]] = field(default_factory=list)

    @property
    def n_spans(self) -> int:
        return sum(len(d["spans"]) for d in self.docs)


class _Assembler:
    """Accumulates docs and media rows; owns the content RNG."""

    def __init__(self, name: str, seed: int):
        self.w = Workload(name, seed)
        self.rng = np.random.default_rng([seed, list(JOBS).index(name)])
        self._media_idx = 0

    def _ref(self) -> str:
        ref = f"med_{self._media_idx:08d}"
        self._media_idx += 1
        return ref

    def page(self, cls: str) -> str:
        arr = _PAGE_FN[cls](self.rng)
        ref = self._ref()
        h, w = arr.shape[:2]
        self.w.media.append(
            {"media_ref": ref, "png": encode_png(arr), "width": w, "height": h}
        )
        return ref

    def pdf(self, doc_id: str, n_pages: int) -> str:
        # the fixture's pdf pages: small 72-dpi bases that render to
        # < 2 MP at 300 dpi, so they never reach the splitter
        pages = [
            render_page(
                FX._glyph_lines(
                    self.rng, int(self.rng.integers(2, 5)), f"f{p}", max_chars=8
                ),
                width=220, height=190, margin=12,
            )
            for p in range(n_pages)
        ]
        ref = self._ref()
        data = encode_pdf(pages, {"title": f"{doc_id} report", "author": "fixture"})
        self.w.media.append({"media_ref": ref, "png": data, "width": 0, "height": 0})
        return ref

    def text(self, doc_id: str, off: int) -> dict:
        return {
            "kind": "text",
            "text": FX.make_text_span(self.rng, f"{doc_id[-3:]}x{off}"),
            "media_ref": "",
            "offset": off,
        }

    def media_span(self, cls: str, off: int) -> dict:
        return {"kind": "media", "text": "", "media_ref": self.page(cls), "offset": off}

    def add_doc(self, spans: list[dict]) -> None:
        d = len(self.w.docs)
        doc_id = f"doc_{d:08d}"
        # the fixture's planted skips, on its own cadence (build_corpus)
        if d % 17 == 7 and spans:
            spans.append(
                {"kind": "media", "text": "", "media_ref": "med_missing_ref",
                 "offset": len(spans)}
            )
            self.w.planted.append((doc_id, len(spans) - 1))
        elif d % 17 == 9 and spans:
            ref = self._ref()
            self.w.media.append(
                {"media_ref": ref, "png": b"not-a-png", "width": 0, "height": 0}
            )
            spans.append(
                {"kind": "media", "text": "", "media_ref": ref, "offset": len(spans)}
            )
            self.w.planted.append((doc_id, len(spans) - 1))
        self.w.docs.append({"doc_id": doc_id, "spans": spans})

    def next_id(self) -> str:
        return f"doc_{len(self.w.docs):08d}"


def _class_sequence(counts: dict[str, int]) -> list[str]:
    """Fixed interleaving of a class quota: each class spread evenly over
    the sequence (no seed), so every seed sees the same positions."""
    keyed = []
    for cls, n in counts.items():
        keyed += [((i + 0.5) / n, cls) for i in range(n)]
    return [cls for _, cls in sorted(keyed)]


def _scaled(counts: dict[str, int], scale: float) -> dict[str, int]:
    return {c: max(1, round(n * scale)) for c, n in counts.items()}


def _media_mix(b: _Assembler, scale: float) -> None:
    pages = _scaled(FIXTURE_PAGES_PER_100, scale)
    small = _class_sequence({c: pages[c] for c in SMALL_CLASSES})
    big = _class_sequence({c: pages[c] for c in BIG_CLASSES})
    n_monster = max(2, round(24 * scale))
    # media-heavy docs: one >2 MP page between two small pages each
    def take() -> str:
        return small.pop() if small else "clean"

    for cls in big:
        b.add_doc([b.media_span(take(), 0), b.media_span(cls, 1), b.media_span(take(), 2)])
    # pdf docs: a 2..5-page pdf then a text span, as in the fixture
    for i in range(max(1, round(4 * scale))):
        d = b.next_id()
        b.add_doc([{"kind": "pdf", "text": "", "media_ref": b.pdf(d, 2 + i % 4),
                    "offset": 0}, b.text(d, 1)])
    # one skew-monster doc: many small media spans
    b.add_doc([b.media_span(take(), off) for off in range(n_monster)])
    # interleaved docs (text, media, text, media, text) take the rest
    while small:
        d = b.next_id()
        spans = []
        for off in range(5):
            if off % 2 and small:
                spans.append(b.media_span(small.pop(), off))
            else:
                spans.append(b.text(d, off))
        b.add_doc(spans)


def _resume_buckets(b: _Assembler, scale: float) -> None:
    # the fixture's <= 1 MP page classes at their fixture weights, pdfs,
    # and text-only docs (the fixture boilerplate mix) as 3 docs in 5
    small = _class_sequence(
        _scaled({c: FIXTURE_PAGES_PER_100[c] for c in SMALL_CLASSES}, scale)
    )
    for d in range(max(10, round(400 * scale))):
        doc_id = b.next_id()
        if d % 17 == 3:
            spans = []  # empty spans array
        elif d % 17 == 5:
            spans = [{"kind": "text", "text": "", "media_ref": "", "offset": 0}]
        elif d % 5 < 3 or not small:  # text-only
            spans = [b.text(doc_id, off) for off in range(1 + d % 8)]
        elif d % 5 == 3:  # interleaved
            spans = [b.text(doc_id, 0), b.media_span(small.pop(), 1), b.text(doc_id, 2)]
        elif d % 15 == 4:  # pdf doc
            spans = [{"kind": "pdf", "text": "", "media_ref": b.pdf(doc_id, 2 + d % 3),
                      "offset": 0}, b.text(doc_id, 1)]
        else:  # media-heavy
            spans = [b.media_span(small.pop(), off) for off in range(min(2, len(small)))]
        b.add_doc(spans)


_RECIPES = {
    "media_mix": _media_mix,
    "resume_buckets": _resume_buckets,
}


def build(name: str, seed: int, scale: float | None = None) -> Workload:
    """The workload's documents, media rows and planted skips, at the
    benchmark's scale unless one is given."""
    if name not in _RECIPES:
        raise ValueError(f"unknown workload {name!r}; choose from {list(JOBS)}")
    b = _Assembler(name, seed)
    _RECIPES[name](b, JOBS[name]["scale"] if scale is None else scale)
    return b.w


def write_corpus(w: Workload, out_dir: str, layout_buckets: int) -> tuple[str, str]:
    """Write (documents, media) hive-partitioned by `bucket` (and media by
    `heavy`), with the `_layout.json` sidecar — the layout
    `corpus.write_corpus_parquet` produces. Returns the two table paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.spark.corpus import (
        DOCS_ARROW, LAYOUT_META, MEDIA_ARROW, bucket_of,
    )
    from ocr_spark.spark.pipeline import media_is_heavy

    doc_bucket = {d["doc_id"]: bucket_of(d["doc_id"], layout_buckets) for d in w.docs}
    ref_bucket = {
        s["media_ref"]: doc_bucket[d["doc_id"]]
        for d in w.docs for s in d["spans"] if s["media_ref"]
    }
    docs_path = os.path.join(out_dir, "documents.parquet")
    media_path = os.path.join(out_dir, "media.parquet")

    def write_parts(rows, schema, root, part_cols, row_group_size):
        by_key: dict[tuple, list] = {}
        for r in rows:
            key = tuple(r[c] for c in part_cols)
            by_key.setdefault(key, []).append(
                {k: v for k, v in r.items() if k not in part_cols}
            )
        part_schema = pa.schema([f for f in schema if f.name not in part_cols])
        os.makedirs(root, exist_ok=True)
        for key, part in sorted(by_key.items()):
            pdir = os.path.join(root, *[f"{c}={v}" for c, v in zip(part_cols, key)])
            os.makedirs(pdir, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(part, schema=part_schema),
                os.path.join(pdir, "part-0.parquet"),
                row_group_size=row_group_size,
            )
        with open(os.path.join(root, LAYOUT_META), "w") as f:
            json.dump({"layout_buckets": layout_buckets}, f)

    write_parts(
        [{**d, "bucket": doc_bucket[d["doc_id"]]} for d in w.docs],
        DOCS_ARROW, docs_path, ["bucket"], 512,
    )
    media_rows = [
        {**m, "bucket": ref_bucket.get(m["media_ref"], 0),
         "heavy": int(media_is_heavy(m["png"], m["width"], m["height"]))}
        for m in w.media
    ]
    if media_rows:
        write_parts(media_rows, MEDIA_ARROW, media_path, ["bucket", "heavy"], 256)
    else:
        # a text-only corpus still has a (empty) media table to join
        os.makedirs(media_path, exist_ok=True)
        pq.write_table(
            MEDIA_ARROW.empty_table(), os.path.join(media_path, "part-0.parquet")
        )
        with open(os.path.join(media_path, LAYOUT_META), "w") as f:
            json.dump({"layout_buckets": layout_buckets}, f)
    return docs_path, media_path
