"""Output checker: every committed document against the single-process
oracle (`ocr_spark.core.process_document`), plus the planted skips.

A document fails when it is missing, duplicated, or differs from the
oracle in its (kind, text, media_ref, offset) sequence or its metrics.
Independently of the oracle, every planted invalid span must be a
counted skip (empty text, counted in `metrics.skipped`), no other span
may be skipped, and other media or pdf spans must carry text — so a
change that makes the engine AND the oracle skip everything still fails.

A valid page whose text comes back empty without a skip is a known
engine defect: about 1 noisy fixture page in 75 loses its text because
global deskew fires on the salt-and-pepper noise (engine and oracle
agree). Such spans are counted, not failed, up to EMPTY_TEXT_LIMIT of a
job's valid media spans; above it every document holding one fails.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

MEDIA_KINDS = ("media", "pdf")
METRIC_KEYS = ("n_spans", "n_media", "n_text", "skipped")
LIST_METRIC_KEYS = ("steps_applied", "split_methods")
CONFIDENCE_TOL = 1e-9
EMPTY_TEXT_LIMIT = 0.05


def span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in spans]


def doc_problem(row: dict, oracle: tuple[list, dict], planted: set[int]) -> str | None:
    """Why one output row is wrong, or None. `planted` holds the offsets
    of this document's planted invalid spans."""
    ospans, om = oracle
    spans = span_tuples(row["spans"])
    if spans != span_tuples(ospans):
        return "spans differ from oracle"
    m = row["metrics"]
    for k in METRIC_KEYS:
        if int(m[k]) != int(om[k]):
            return f"metrics.{k} {m[k]} != oracle {om[k]}"
    for k in LIST_METRIC_KEYS:
        if list(m[k]) != list(om[k]):
            return f"metrics.{k} differs from oracle"
    if abs(float(m["ocr_confidence"]) - float(om["ocr_confidence"])) > CONFIDENCE_TOL:
        return "metrics.ocr_confidence differs from oracle"
    for _kind, text, _ref, off in spans:
        if off in planted and text:
            return f"planted invalid span at offset {off} was not skipped"
    if int(m["skipped"]) != len(planted):
        return f"metrics.skipped {m['skipped']} != planted {len(planted)}"
    return None


def empty_media_offsets(row: dict, planted: set[int]) -> list[int]:
    """Offsets of valid media/pdf spans that came back with no text."""
    return [
        int(s["offset"]) for s in row["spans"]
        if s["kind"] in MEDIA_KINDS and not s["text"] and int(s["offset"]) not in planted
    ]


@dataclass
class Verdict:
    attempted: int
    problems: dict[str, str]  # doc_id -> why it failed
    empty_text_spans: int  # valid media spans with no text (see module doc)

    @property
    def failed(self) -> int:
        return len(self.problems)


def check_rows(
    rows: list[dict],
    oracle: dict[str, tuple[list, dict]],
    planted: dict[str, set[int]],
) -> Verdict:
    """Check one job's output rows against the oracle and planted skips."""
    counts = Counter(r["doc_id"] for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    problems: dict[str, str] = {}
    empty: dict[str, list[int]] = {}
    n_valid_media = 0
    for doc_id, expect in oracle.items():
        n = counts.get(doc_id, 0)
        if n == 0:
            problems[doc_id] = "missing"
        elif n > 1:
            problems[doc_id] = f"duplicated x{n}"
        else:
            mine = planted.get(doc_id, set())
            why = doc_problem(by_id[doc_id], expect, mine)
            if why:
                problems[doc_id] = why
            n_valid_media += sum(
                s["kind"] in MEDIA_KINDS and int(s["offset"]) not in mine
                for s in by_id[doc_id]["spans"]
            )
            if offs := empty_media_offsets(by_id[doc_id], mine):
                empty[doc_id] = offs
    for doc_id in counts.keys() - oracle.keys():
        problems[doc_id] = "not in the input"
    n_empty = sum(len(v) for v in empty.values())
    if n_empty > EMPTY_TEXT_LIMIT * max(1, n_valid_media):
        for doc_id, offs in empty.items():
            problems.setdefault(doc_id, f"media spans at offsets {offs} produced no text")
    return Verdict(len(oracle), problems, n_empty)


def read_output(out_dir: str) -> list[dict]:
    """Committed job output as plain rows (pyarrow, not a Spark collect);
    `_manifest` and Spark's `_SUCCESS`/`.crc` files are skipped by the
    dataset's default ignore prefixes."""
    import pyarrow.dataset as ds

    table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "spans", "metrics"]
    )
    return table.to_pylist()
