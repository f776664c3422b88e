"""Smoke tests for the benchmark's own parts, at tiny size (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import subprocess
import sys

import check
import ktrace
import sparkmetrics
import workloads as W

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def _fingerprint(w: W.Workload):
    return (w.docs, [(m["media_ref"], m["png"]) for m in w.media], w.planted)


def test_generator_is_deterministic_per_seed():
    a = W.build("resume_buckets", 7, scale=0.05)
    b = W.build("resume_buckets", 7, scale=0.05)
    c = W.build("resume_buckets", 8, scale=0.05)
    assert _fingerprint(a) == _fingerprint(b)
    assert _fingerprint(a) != _fingerprint(c)
    # the seed draws content, never the layout of kinds and planted skips
    shape = lambda w: [[(s["kind"], s["offset"]) for s in d["spans"]] for d in w.docs]  # noqa: E731
    assert shape(a) == shape(c)
    assert a.planted == c.planted and a.planted


def test_media_mix_places_every_page_class_at_fixed_positions():
    a = W.build("media_mix", 1, scale=0.05)
    b = W.build("media_mix", 2, scale=0.05)
    dims = lambda w: [m["width"] * m["height"] > 2_000_000 for m in w.media]  # noqa: E731
    assert dims(a) == dims(b)
    assert sum(dims(a)) == len(W.BIG_CLASSES)


def _oracle():
    spans = [
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "invoice 42", "media_ref": "m1", "offset": 1},
        {"kind": "media", "text": "", "media_ref": "missing", "offset": 2},
    ]
    metrics = {
        "n_spans": 3, "n_media": 2, "n_text": 1, "skipped": 1,
        "steps_applied": ["binarization"], "split_methods": ["none"],
        "ocr_confidence": 0.9,
    }
    return {"d1": (spans, metrics)}, {"d1": {2}}


def _row(oracle):
    spans, metrics = oracle["d1"]
    return {"doc_id": "d1", "spans": copy.deepcopy(spans), "metrics": dict(metrics)}


def test_checker_accepts_the_oracle_output():
    oracle, planted = _oracle()
    v = check.check_rows([_row(oracle)], oracle, planted)
    assert (v.attempted, v.failed, v.empty_text_spans) == (1, 0, 0)


def test_checker_catches_an_injected_mismatch():
    oracle, planted = _oracle()
    row = _row(oracle)
    row["spans"][1]["text"] = "invoice 43"
    v = check.check_rows([row], oracle, planted)
    assert (v.attempted, v.failed) == (1, 1) and "oracle" in v.problems["d1"]
    # missing and duplicated documents fail too
    assert check.check_rows([], oracle, planted).failed == 1
    assert check.check_rows([_row(oracle)] * 2, oracle, planted).failed == 1


def test_checker_catches_an_all_skip_shared_with_the_oracle():
    oracle, planted = _oracle()
    spans, metrics = oracle["d1"]
    spans[1]["text"] = ""  # engine AND oracle now skip the valid page
    metrics["skipped"] = 2
    v = check.check_rows([_row(oracle)], oracle, planted)
    assert v.failed == 1 and "skipped" in v.problems["d1"]
    # ... or return it empty without counting a skip
    metrics["skipped"] = 1
    v = check.check_rows([_row(oracle)], oracle, planted)
    assert v.failed == 1 and "no text" in v.problems["d1"]


def test_checker_counts_rare_empty_pages_without_failing():
    oracle, planted = _oracle()
    spans, metrics = oracle["d1"]
    for i in range(40):  # 40 more valid pages, one of which comes back empty
        spans.append({"kind": "media", "text": "" if i == 0 else "ok",
                      "media_ref": f"p{i}", "offset": 3 + i})
    v = check.check_rows([_row(oracle)], oracle, planted)
    assert (v.failed, v.empty_text_spans) == (0, 1)


def test_self_time_is_duration_minus_children():
    spans = [
        ktrace.Span("core.span", 0.0, 10.0),
        ktrace.Span("imaging.png", 1.0, 3.0, parent=0),
        ktrace.Span("extract", 5.0, 6.0, parent=0),
        ktrace.Span("merge", 5.5, 12.0, parent=0),  # overlaps, runs past the end
    ]
    selfs = ktrace.self_times(spans)
    assert selfs[0] == 10.0 - 2.0 - 5.0  # children cover [1,3] and [5,10]
    assert selfs[1:] == [2.0, 1.0, 6.5]


def test_tracer_records_parent_links():
    tracer = ktrace.Tracer()
    inner = tracer.wrap("extract", lambda x: x + 1)
    outer = tracer.wrap("core.span", lambda x: inner(x) * 2)
    assert outer(1) == 4
    assert [(s.name, s.parent) for s in tracer.spans] == [("core.span", None), ("extract", 0)]


def test_sql_metric_values_parse_to_ms_and_mb():
    assert sparkmetrics.metric_value("total (min, med, max)\n1.5 s (1 ms, 2 ms)") == 1500.0
    assert sparkmetrics.metric_value("309.6 KiB") == 309.6 / 1024
    assert sparkmetrics.metric_value("54") == 54.0


def test_run_refuses_a_directory_without_sources(tmp_path):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", "media_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
