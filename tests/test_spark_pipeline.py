"""End-to-end distributed-pipeline tests: span-sequence equality between
the Spark plan (fused and staged physical modes) and the single-process
oracle (the BASELINE.json input_hint invariant), plus metrics parity and
checkpoint/resume semantics."""

from __future__ import annotations

import os

import pytest

from ocr_spark.spark.corpus import read_corpus
from ocr_spark.spark.pipeline import run_pipeline


def _spans_tuple(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def assert_equals_oracle(rows_by_doc, oracle_extracted):
    assert set(rows_by_doc) == set(oracle_extracted)
    for doc_id, (ospans, ometrics) in oracle_extracted.items():
        r = rows_by_doc[doc_id]
        # the headline invariant: exact (kind, text, media_ref, order)
        assert _spans_tuple(r["spans"]) == _spans_tuple(ospans), doc_id
        m = r["metrics"]
        assert m["n_spans"] == ometrics["n_spans"], doc_id
        assert m["n_media"] == ometrics["n_media"], doc_id
        assert m["n_text"] == ometrics["n_text"], doc_id
        assert m["skipped"] == ometrics["skipped"], doc_id
        assert list(m["steps_applied"]) == ometrics["steps_applied"], doc_id
        assert list(m["split_methods"]) == ometrics["split_methods"], doc_id
        assert m["ocr_confidence"] == pytest.approx(
            ometrics["ocr_confidence"], abs=1e-9
        ), doc_id


@pytest.mark.parametrize("mode", ["fused", "staged", "hybrid"])
def test_pipeline_matches_oracle(spark, corpus_dir, oracle_extracted, mode):
    docs, media = read_corpus(spark, corpus_dir)
    out = run_pipeline(
        spark, docs, media, mode=mode, run_id=f"t-{mode}", span_partitions=16,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert_equals_oracle(rows, oracle_extracted)
    # lineage is attached and run-scoped
    any_row = next(iter(rows.values()))
    assert any_row["lineage"]["run_id"] == f"t-{mode}"
    assert any_row["lineage"]["attempt"] == 1


def test_resume_skips_committed_buckets(
    spark, corpus_dir, oracle_extracted, tmp_path
):
    from ocr_spark.spark.checkpoint import (
        completed_buckets,
        read_extracted,
        run_extraction_job,
    )

    docs, media = read_corpus(spark, corpus_dir)
    out_dir = str(tmp_path / "extracted")

    # first run dies after 2 of 4 buckets (simulated driver kill)
    r1 = run_extraction_job(
        spark, docs, media, out_dir, run_id="r1", n_buckets=4, max_buckets=2,
        span_partitions=8,
    )
    assert len(r1["processed_buckets"]) == 2
    assert not r1["complete"]
    assert set(completed_buckets(out_dir)) == set(r1["processed_buckets"])

    # resume: only the remaining buckets run, nothing is recomputed
    r2 = run_extraction_job(
        spark, docs, media, out_dir, run_id="r2", n_buckets=4,
        span_partitions=8,
    )
    assert r2["complete"]
    assert set(r2["skipped_buckets"]) == set(r1["processed_buckets"])
    assert set(r2["processed_buckets"]).isdisjoint(r1["processed_buckets"])

    final = read_extracted(spark, out_dir)
    rows = {r["doc_id"]: r for r in final.collect()}
    assert_equals_oracle(rows, oracle_extracted)
    # resumed buckets carry the original run_id — they were not re-run
    run_ids = {r["lineage"]["run_id"] for r in rows.values()}
    assert run_ids == {"r1", "r2"}


def test_resume_grouped_buckets(spark, corpus_dir, oracle_extracted, tmp_path):
    """buckets_per_job>1 (VERDICT r2 #5): one Spark action commits a whole
    group of buckets via a dynamic-partition write; a kill between groups
    loses no committed bucket, and resume may regroup freely — the commit
    unit stays ONE bucket."""
    from ocr_spark.spark.checkpoint import (
        completed_buckets,
        read_extracted,
        run_extraction_job,
    )

    docs, media = read_corpus(spark, corpus_dir)
    out_dir = str(tmp_path / "extracted")
    # first invocation dies after one 2-bucket group
    r1 = run_extraction_job(
        spark, docs, media, out_dir, run_id="g1", n_buckets=4,
        max_buckets=2, buckets_per_job=2, span_partitions=8,
    )
    assert len(r1["processed_buckets"]) == 2 and not r1["complete"]
    done = completed_buckets(out_dir)
    assert set(done) == set(r1["processed_buckets"])
    assert all(row["buckets_per_job"] == 2 for row in done.values())
    # resume with a DIFFERENT group size: remaining buckets only
    r2 = run_extraction_job(
        spark, docs, media, out_dir, run_id="g2", n_buckets=4,
        buckets_per_job=3, span_partitions=8,
    )
    assert r2["complete"]
    assert set(r2["skipped_buckets"]) == set(r1["processed_buckets"])
    rows = {r["doc_id"]: r for r in read_extracted(spark, out_dir).collect()}
    assert_equals_oracle(rows, oracle_extracted)
    assert {r["lineage"]["run_id"] for r in rows.values()} == {"g1", "g2"}


def test_grouped_empty_buckets_commit(spark, corpus_dir, tmp_path):
    """A grouped run where buckets get zero docs still commits every
    manifest row (n_docs=0, no output dir), and read_extracted tolerates
    the missing dirs."""
    from ocr_spark.spark.checkpoint import (
        completed_buckets,
        read_extracted,
        run_extraction_job,
    )

    docs, media = read_corpus(spark, corpus_dir)
    did = docs.select("doc_id").orderBy("doc_id").first()[0]
    out_dir = str(tmp_path / "extracted")
    report = run_extraction_job(
        spark, docs.filter(docs.doc_id == did), media, out_dir,
        run_id="e1", n_buckets=4, buckets_per_job=4, span_partitions=8,
    )
    assert report["complete"]
    done = completed_buckets(out_dir)
    assert len(done) == 4
    assert sum(row["n_docs"] for row in done.values()) == 1
    rows = read_extracted(spark, out_dir).collect()
    assert [r["doc_id"] for r in rows] == [did]


def test_empty_documents_input(spark, corpus_dir):
    """Zero input docs -> zero output rows, no exceptions."""
    docs, media = read_corpus(spark, corpus_dir)
    out = run_pipeline(
        spark, docs.filter("doc_id = 'nope'"), media, mode="fused",
        span_partitions=4,
    )
    assert out.count() == 0


@pytest.mark.parametrize("mode", ["fused", "staged"])
def test_profile_qari_rtl(spark, oracle_extracted, mode):
    """The RTL/qari profile flows through both sides identically."""
    from ocr_spark.core import process_document
    from ocr_spark.fixtures import build_corpus
    from ocr_spark.spark.schemas import DOCUMENTS_SCHEMA, MEDIA_SCHEMA

    docs, media = build_corpus(n_docs=8, skew_monster_spans=4)
    lookup = {m["media_ref"]: m["png"] for m in media}
    oracle = {
        d["doc_id"]: process_document(
            d["doc_id"], d["spans"], lambda r: lookup.get(r), profile="qari"
        )
        for d in docs
    }
    docs_df = spark.createDataFrame(
        [
            (
                d["doc_id"],
                [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in d["spans"]
                ],
            )
            for d in docs
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [(m["media_ref"], m["png"], m["width"], m["height"]) for m in media],
        schema=MEDIA_SCHEMA,
    )
    out = run_pipeline(
        spark, docs_df, media_df, profile="qari", mode=mode, span_partitions=8
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    for doc_id, (ospans, _om) in oracle.items():
        assert _spans_tuple(rows[doc_id]["spans"]) == _spans_tuple(ospans), doc_id


def test_oversize_payload_cap_skips(spark, corpus_dir):
    """P11 oversize guard: a tiny cap turns every media span into a
    counted skip (file_validation.py:149-162 semantics), no exceptions."""
    from pyspark.sql import functions as F

    docs, media = read_corpus(spark, corpus_dir)
    out = run_pipeline(
        spark, docs, media, mode="fused", span_partitions=8,
        max_payload_bytes=10,
    )
    r = out.agg(
        F.sum("metrics.n_media").alias("m"),
        F.sum("metrics.skipped").alias("s"),
    ).collect()[0]
    assert r["m"] > 0 and r["m"] == r["s"]


def test_resume_rejects_bucket_count_change(spark, corpus_dir, tmp_path):
    """Rerunning an out_dir with a different --buckets must fail fast:
    bucket ids would map to different doc subsets (docs silently dropped
    and duplicated)."""
    import pytest as _pytest

    from ocr_spark.spark.checkpoint import run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    out_dir = str(tmp_path / "extracted")
    run_extraction_job(
        spark, docs, media, out_dir, run_id="r1", n_buckets=4, max_buckets=1,
        span_partitions=8,
    )
    with _pytest.raises(ValueError, match="n_buckets"):
        run_extraction_job(
            spark, docs, media, out_dir, run_id="r2", n_buckets=8,
            span_partitions=8,
        )


def test_mixed_inputs_hash_docs_bucketed_media(
    spark, corpus_dir, oracle_extracted, tmp_path
):
    """ADVICE r2 / VERDICT r3 #8: docs WITHOUT the bucket layout column
    (hash fallback) + media WITH it. When n_buckets does not divide the
    media table's INGESTED layout (the _layout.json sidecar — here 8)
    the two assignments disagree — a pruned media scan would silently
    skip spans — so the job must FAIL FAST. When it does divide,
    pmod(md5 % L, n) == md5 % n, so the pruned run is provably safe and
    the output must equal the oracle exactly."""
    from ocr_spark.spark.checkpoint import read_extracted, run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    assert "bucket" in media.columns
    docs_nb = docs.select("doc_id", "spans")  # strip the layout column
    with pytest.raises(ValueError, match="mixed bucketing geometry"):
        run_extraction_job(
            spark, docs_nb, media, str(tmp_path / "bad"), run_id="mix3",
            n_buckets=3, span_partitions=8,
        )
    out_dir = str(tmp_path / "extracted")
    report = run_extraction_job(
        spark, docs_nb, media, out_dir, run_id="mix4", n_buckets=4,
        span_partitions=8,
    )
    assert report["complete"]
    rows = {r["doc_id"]: r for r in read_extracted(spark, out_dir).collect()}
    assert_equals_oracle(rows, oracle_extracted)


def test_mixed_geometry_judged_against_ingested_layout(
    spark, oracle_extracted, tmp_path
):
    """The divisibility check must use the layout the media table was
    ACTUALLY ingested with, not the LAYOUT_BUCKETS constant:
    write_corpus_parquet(layout_buckets=) is public API. With L=10,
    n_buckets=4 must fail fast (10 % 4 != 0 — the old constant-based
    check would have pruned and silently skipped media spans, since
    8 % 4 == 0) and n_buckets=5 must prune AND match the oracle."""
    from ocr_spark.spark.checkpoint import read_extracted, run_extraction_job
    from ocr_spark.spark.corpus import read_corpus as _rc
    from ocr_spark.spark.corpus import write_corpus_parquet
    from tests.conftest import N_DOCS, SKEW_SPANS

    cdir = str(tmp_path / "corpus10")
    write_corpus_parquet(
        cdir, n_docs=N_DOCS, skew_monster_spans=SKEW_SPANS, layout_buckets=10
    )
    docs, media = _rc(spark, cdir)
    docs_nb = docs.select("doc_id", "spans")
    with pytest.raises(ValueError, match="layout_buckets=10"):
        run_extraction_job(
            spark, docs_nb, media, str(tmp_path / "bad"), run_id="mixL4",
            n_buckets=4, span_partitions=8,
        )
    out_dir = str(tmp_path / "extracted10")
    report = run_extraction_job(
        spark, docs_nb, media, out_dir, run_id="mixL5", n_buckets=5,
        span_partitions=8,
    )
    assert report["complete"]
    rows = {r["doc_id"]: r for r in read_extracted(spark, out_dir).collect()}
    assert_equals_oracle(rows, oracle_extracted)


def test_mixed_geometry_unknown_layout_degrades_unpruned(
    spark, corpus_dir, oracle_extracted, tmp_path
):
    """A bucketed media table WITHOUT the layout sidecar (external or
    pre-sidecar ingest) has an unprovable modulus: the job must not
    raise and must not prune — warn, scan media unpruned, and still
    match the oracle exactly (resumes of old half-complete runs keep
    working)."""
    import shutil

    from ocr_spark.spark.checkpoint import read_extracted, run_extraction_job
    from ocr_spark.spark.corpus import LAYOUT_META
    from ocr_spark.spark.corpus import read_corpus as _rc

    cdir = str(tmp_path / "corpus_nosidecar")
    shutil.copytree(corpus_dir, cdir)
    os.remove(os.path.join(cdir, "media.parquet", LAYOUT_META))
    docs, media = _rc(spark, cdir)
    docs_nb = docs.select("doc_id", "spans")
    out_dir = str(tmp_path / "extracted_ns")
    with pytest.warns(UserWarning, match="unpruned"):
        report = run_extraction_job(
            spark, docs_nb, media, out_dir, run_id="mixU3", n_buckets=3,
            span_partitions=8,
        )
    assert report["complete"]
    rows = {r["doc_id"]: r for r in read_extracted(spark, out_dir).collect()}
    assert_equals_oracle(rows, oracle_extracted)


def test_staged_png_chunk_codec_matches_oracle(spark, corpus_dir, oracle_extracted):
    """chunk_codec='png' (the network-shuffle wire format) must be
    byte-equal to the default raw codec — both are lossless."""
    docs, media = read_corpus(spark, corpus_dir)
    out = run_pipeline(
        spark, docs, media, mode="staged", run_id="t-png",
        span_partitions=16, chunk_codec="png",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert_equals_oracle(rows, oracle_extracted)


def _write_tiny_corpus(tmp_path, docs_rows, media_rows, heavy_vals=None):
    """Unpartitioned documents/media parquet; heavy_vals adds a nullable
    `heavy` column (the user-supplied-table shape, not our ingest's)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    d = tmp_path / "tiny"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            docs_rows,
            schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))]),
        ),
        str(d / "documents.parquet"),
    )
    media_schema = [
        ("media_ref", pa.string()),
        ("png", pa.binary()),
        ("width", pa.int32()),
        ("height", pa.int32()),
    ]
    if heavy_vals is not None:
        media_rows = [
            {**m, "heavy": h} for m, h in zip(media_rows, heavy_vals)
        ]
        media_schema.append(("heavy", pa.int32()))
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=pa.schema(media_schema)),
        str(d / "media.parquet"),
    )
    return str(d)


def test_duplicate_offsets_match_oracle(spark, tmp_path):
    """Two spans sharing an offset (malformed but representable input):
    the oracle's canonical output order must equal the reassembly's
    array_sort order — a stable offset-only sort would keep an input
    order the unordered groupBy cannot observe."""
    from ocr_spark.core import process_document
    from ocr_spark.extract.glyph import render_page
    from ocr_spark.imaging.png import encode_png

    page = render_page(["dup offset page"], 400, 200)
    png = encode_png(page)
    spans = [
        {"kind": "text", "text": "zz this is a kept sentence ok.", "media_ref": "", "offset": 5},
        {"kind": "media", "text": "", "media_ref": "m1", "offset": 5},
        {"kind": "text", "text": "aa also kept sentence here ok.", "media_ref": "", "offset": 5},
    ]
    cdir = _write_tiny_corpus(
        tmp_path,
        [{"doc_id": "dup1", "spans": spans}],
        [{"media_ref": "m1", "png": png, "width": 400, "height": 200}],
    )
    docs, media = read_corpus(spark, cdir)
    want, _ = process_document("dup1", spans, {"m1": png}.get, "got")
    for mode in ("fused", "staged"):
        out = run_pipeline(
            spark, docs, media, mode=mode, run_id=f"dup-{mode}", span_partitions=4
        ).collect()
        got = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
             "offset": s["offset"]}
            for s in out[0]["spans"]
        ]
        assert got == want, mode


def test_hybrid_null_heavy_routes_fused_not_dropped(spark, tmp_path):
    """A user-supplied media table with NULL in `heavy`: the span must
    come out of the hybrid plan (routed fused), not vanish between the
    heavy==0 / heavy==1 / anti-join branches."""
    from ocr_spark.core import process_document
    from ocr_spark.extract.glyph import render_page
    from ocr_spark.imaging.png import encode_png

    png = encode_png(render_page(["null heavy page"], 400, 200))
    spans = [{"kind": "media", "text": "", "media_ref": "m1", "offset": 0}]
    cdir = _write_tiny_corpus(
        tmp_path,
        [{"doc_id": "nh1", "spans": spans}],
        [{"media_ref": "m1", "png": png, "width": 400, "height": 200}],
        heavy_vals=[None],
    )
    docs, media = read_corpus(spark, cdir)
    assert "heavy" in media.columns
    out = run_pipeline(
        spark, docs, media, mode="hybrid", run_id="nullheavy", span_partitions=4
    ).collect()
    assert len(out) == 1
    want, _ = process_document("nh1", spans, {"m1": png}.get, "got")
    got = [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
         "offset": s["offset"]}
        for s in out[0]["spans"]
    ]
    assert got == want


def _png_head(w: int, h: int) -> bytes:
    """The first 33 bytes of a w x h gray PNG: all the span cost reads."""
    import struct

    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0) + b"\0" * 4
    )


def _span_rows_df(spark, rows):
    """(doc_id, kind, media_ref, offset, png) rows, the shape the media
    join hands to the span placement."""
    return spark.createDataFrame(
        rows, "doc_id string, kind string, media_ref string, offset int, png binary"
    )


def test_span_cost_reads_payload_headers(spark):
    """PNG: IHDR width x height. SPDF: pages x first-page pixels x the
    300-dpi zoom area. Missing, garbage and %PDF payloads: 0."""
    import numpy as np

    from ocr_spark.pdfio import encode_pdf
    from ocr_spark.spark.pipeline import _span_cost_col

    pdf = encode_pdf([np.full((190, 220), 255, np.uint8)] * 3)
    payloads = [_png_head(1500, 1520), pdf, b"not-a-png", b"%PDF-1.4 x", None,
                _png_head(7, 5)[:20]]
    df = _span_rows_df(
        spark, [("d", "media", f"m{i}", i, p) for i, p in enumerate(payloads)]
    )
    got = [r.c for r in df.orderBy("offset").select(_span_cost_col().alias("c")).collect()]
    want = [1500 * 1520, 3 * 220 * 190 * (300 / 72) ** 2, 0, 0, 0, 0]
    assert got == pytest.approx(want)


@pytest.mark.parametrize("n", [3, 4])
def test_deal_by_cost_balances_partitions(spark, n):
    """Synthetic costs dealt from one input partition: every span lands
    in exactly one partition, and each partition's total cost is within
    one max-span of the ideal (total / n)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.spark.pipeline import _deal_by_cost, _span_cost_col

    rng = np.random.default_rng(n)
    rows = [
        (f"d{i % 7}", "media", f"m{i}", i,
         _png_head(int(rng.integers(10, 2000)), int(rng.integers(10, 1500))))
        for i in range(45)
    ] + [(f"d{i}", "media", f"x{i}", 100 + i, b"junk") for i in range(5)]
    src = _span_rows_df(spark, rows)
    placed = _deal_by_cost(src.coalesce(1), n).select(
        "doc_id", "offset", _span_cost_col().alias("c"),
        F.spark_partition_id().alias("p"),
    ).collect()
    assert sorted((r.doc_id, r.offset) for r in placed) == sorted(
        (d, o) for d, _k, _m, o, _p in rows
    )
    load = [sum(r.c for r in placed if r.p == p) for p in range(n)]
    ideal = sum(load) / n
    biggest = max(r.c for r in placed)
    assert all(abs(x - ideal) <= biggest for x in load), (load, ideal, biggest)
    # many input partitions: still each span exactly once
    placed = _deal_by_cost(src.repartition(5), n).select("doc_id", "offset").collect()
    assert sorted(placed) == sorted((d, o) for d, _k, _m, o, _p in rows)


def test_skew_monster_heavy_pages_spread(spark):
    """A skew-monster doc carrying more >2 MP pages than there are span
    partitions puts them on every partition, not where (doc_id, offset)
    happens to hash."""
    from pyspark.sql import functions as F

    from ocr_spark.spark import schemas as S
    from ocr_spark.spark.pipeline import _media_input, _media_span_rows

    n = 4
    media, spans = [], []
    for off in range(30):
        big = off % 5 == 0  # 6 heavy pages among 24 light ones
        ref = f"sm{off}"
        w, h = (1600, 1500) if big else (400, 300)
        media.append((ref, _png_head(w, h), w, h))
        spans.append(("media", "", ref, off))
    docs = [("monster", spans)] + [
        (f"d{i}", [("media", "", f"sm{i}", 0)]) for i in range(6)
    ]
    docs_df = spark.createDataFrame(docs, S.DOCUMENTS_SCHEMA)
    media_df = spark.createDataFrame(media, S.MEDIA_SCHEMA)
    placed = (
        _media_input(_media_span_rows(docs_df), media_df, True, n)
        .filter(F.col("doc_id") == "monster")
        .select("offset", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert len(placed) == 30
    heavy_parts = [r.p for r in placed if r.offset % 5 == 0]
    assert len(heavy_parts) == 6 and set(heavy_parts) == set(range(n))
