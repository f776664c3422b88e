"""Per-layer tracing of the single-process kernel path.

The program is not instrumented. The benchmark wraps, from its own
files, the names `ocr_spark.core` calls for each layer, then replays a
workload's documents through `core.process_document`. Every call becomes
a span (name, start, end, parent) kept in memory; a layer's self time is
its span's duration minus the part of that interval its child spans
cover.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

# layer -> the names ocr_spark.core calls for it
KERNEL_LAYERS = {
    "core.span": ("process_media_bytes", "process_pdf_bytes"),
    "imaging.png": ("decode_png",),
    "pdfio": ("render_pages",),
    "imaging.deskew": ("global_deskew_ex",),
    "splitting": ("smart_split",),
    "imaging.preprocess": ("preprocess",),
    "extract": ("extract_text",),
    "merge": ("merge_chunks",),
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; one stack, so one thread at a time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def wrap(self, name: str, fn, attrs=None):
        """`fn` traced as layer `name`; `attrs(result)` adds counts."""

        def traced(*args, **kwargs):
            idx = len(self.spans)
            self.spans.append(
                Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
            )
            self._stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx].end = time.perf_counter()
            if attrs is not None:
                self.spans[idx].attrs = attrs(result)
            return result

        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cur_end, s.start), min(b, s.end)
            if b > a:
                covered += b - a
                cur_end = b
        out.append((s.end - s.start) - covered)
    return out


def _p(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, int(round(q * (len(v) - 1))))]


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """calls / busy_ms (self time) / p95_ms per layer, plus the layer
    counts: chunks per page, pdf pages, and the span-level percentiles
    and skip ratio."""
    selfs = self_times(spans)
    by_layer: dict[str, list[int]] = {name: [] for name in KERNEL_LAYERS}
    for i, s in enumerate(spans):
        by_layer[s.name].append(i)
    out: dict[str, float] = {}
    for name, idx in by_layer.items():
        durs = [(spans[i].end - spans[i].start) * 1000 for i in idx]
        out[f"{name}.calls"] = len(idx)
        out[f"{name}.busy_ms"] = sum(selfs[i] for i in idx) * 1000
        out[f"{name}.p95_ms"] = _p(durs, 0.95)
        if name == "core.span":
            out[f"{name}.p50_ms"] = _p(durs, 0.50)
            out[f"{name}.max_ms"] = max(durs, default=0.0)
            skipped = sum(spans[i].attrs.get("skipped", 0) for i in idx)
            out[f"{name}.skip_ratio"] = skipped / len(idx) if idx else 0.0
    split = by_layer["splitting"]
    out["splitting.chunks_per_page"] = (
        sum(spans[i].attrs["chunks"] for i in split) / len(split) if split else 0.0
    )
    out["pdfio.pages"] = sum(spans[i].attrs["pages"] for i in by_layer["pdfio"])
    return out


def install(tracer: Tracer):
    """Wrap the layer names in `ocr_spark.core`; returns an undo function."""
    from ocr_spark import core

    counts = {
        "core.span": lambda r: {"skipped": int(r.skipped)},
        "splitting": lambda r: {"chunks": len(r.chunks)},
        "pdfio": lambda r: {"pages": len(r)},
    }
    saved = {}
    for layer, names in KERNEL_LAYERS.items():
        for n in names:
            saved[n] = getattr(core, n)
            setattr(core, n, tracer.wrap(layer, saved[n], counts.get(layer)))

    def undo() -> None:
        for n, fn in saved.items():
            setattr(core, n, fn)

    return undo


def replay_shard(docs: list[tuple[str, list, dict]]) -> dict:
    """Replay each document through `core.process_document` twice, plain
    and traced, alternating which goes first so neither side is the warm
    one. Returns both summed times and the traced spans (as tuples)."""
    from ocr_spark import core

    tracer = Tracer()
    total = {"plain": 0.0, "traced": 0.0}
    for i, (doc_id, spans, payloads) in enumerate(docs):
        for side in ("plain", "traced") if i % 2 == 0 else ("traced", "plain"):
            undo = install(tracer) if side == "traced" else None
            try:
                t0 = time.perf_counter()
                core.process_document(doc_id, spans, payloads.get)
                total[side] += time.perf_counter() - t0
            finally:
                if undo:
                    undo()
    return {
        "plain_s": total["plain"],
        "traced_s": total["traced"],
        "spans": [(s.name, s.start, s.end, s.parent, s.attrs) for s in tracer.spans],
    }


def _read_tasks(inp) -> list[tuple[str, list, dict]]:
    """The workload's documents with their payloads, from its corpus."""
    import pyarrow.dataset as ds

    from inputs import doc_tasks

    def rows(path, columns):
        return ds.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=columns
        ).to_pylist()

    media = {r["media_ref"]: r["png"] for r in rows(inp.media_path, ["media_ref", "png"])}
    return doc_tasks(rows(inp.docs_path, ["doc_id", "spans"]), media)


def replay_metrics(inp, procs: int) -> dict[str, float]:
    """Kernel-layer metrics for one traced replay of the workload, split
    over `procs` spawned processes, plus the wrappers' own overhead
    (docs/s of the plain and traced replays, summed per process)."""
    import multiprocessing

    from inputs import task_bytes

    tasks = _read_tasks(inp)
    # greedy split by payload bytes (tasks come heaviest first)
    shards: list[list] = [[] for _ in range(procs)]
    load = [0] * procs
    for t in tasks:
        i = load.index(min(load))
        shards[i].append(t)
        load[i] += task_bytes(t) + 1
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        results = pool.map(replay_shard, shards)
        pool.close()
        pool.join()
    spans: list[Span] = []
    for r in results:
        base = len(spans)
        for name, start, end, parent, attrs in r["spans"]:
            spans.append(Span(name, start, end, None if parent is None else base + parent, attrs))
    out = layer_metrics(spans)
    plain = sum(r["plain_s"] for r in results) / procs
    traced = sum(r["traced_s"] for r in results) / procs
    out["tracing.replay_docs_per_s_plain"] = len(tasks) / plain if plain else 0.0
    out["tracing.replay_docs_per_s_traced"] = len(tasks) / traced if traced else 0.0
    return out


_COUNT_SUFFIXES = ("calls", "tasks", "records", "actions", "pages", "commits", "resumed")


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if "docs_per_s" in last:
        return "1/s"
    if last.endswith(("share", "ratio")):
        return "ratio"
    if last.endswith(_COUNT_SUFFIXES) or last == "chunks_per_page":
        return "count"
    raise ValueError(f"no unit for {metric}")
