"""End-to-end distributed-pipeline tests: span-sequence equality between
the Spark plan and the single-process oracle (the BASELINE.json
input_hint invariant), plus metrics parity and checkpoint/resume
semantics."""

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


@pytest.mark.parametrize("mode", ["fused"])
def test_pipeline_matches_oracle(spark, corpus_dir, oracle_extracted, mode):
    docs, media = read_corpus(spark, corpus_dir)
    out = run_pipeline(spark, docs, media, run_id=f"t-{mode}", span_partitions=16)
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
        spark, docs.filter("doc_id = 'nope'"), media, span_partitions=4
    )
    assert out.count() == 0


@pytest.mark.parametrize("mode", ["fused"])
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
        spark, docs_df, media_df, profile="qari", run_id=f"qari-{mode}",
        span_partitions=8,
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
        spark, docs, media, span_partitions=8, max_payload_bytes=10,
    )
    r = out.agg(
        F.sum("metrics.n_media").alias("m"),
        F.sum("metrics.skipped").alias("s"),
    ).collect()[0]
    assert r["m"] > 0 and r["m"] == r["s"]


def test_extraction_job_takes_only_the_fused_mode(spark, corpus_dir, tmp_path):
    """One media path: `mode` still accepts "fused" (the default every
    other job test runs) and rejects anything else before any work."""
    from ocr_spark.spark.checkpoint import run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    for mode in ("staged", "hybrid"):
        with pytest.raises(ValueError, match="fused"):
            run_extraction_job(
                spark, docs, media, str(tmp_path / mode), run_id="m", mode=mode
            )
        assert not os.path.exists(tmp_path / mode)


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


def _write_tiny_corpus(tmp_path, docs_rows, media_rows):
    """Unpartitioned documents/media parquet."""
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
    out = run_pipeline(spark, docs, media, run_id="dup", span_partitions=4).collect()
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
    from ocr_spark.spark.pipeline import SPAN_COST_SQL

    pdf = encode_pdf([np.full((190, 220), 255, np.uint8)] * 3)
    payloads = [_png_head(1500, 1520), pdf, b"not-a-png", b"%PDF-1.4 x", None,
                _png_head(7, 5)[:20]]
    df = _span_rows_df(
        spark, [("d", "media", f"m{i}", i, p) for i, p in enumerate(payloads)]
    )
    got = [r.c for r in df.orderBy("offset").selectExpr(f"{SPAN_COST_SQL} AS c").collect()]
    want = [1500 * 1520, 3 * 220 * 190 * (300 / 72) ** 2, 0, 0, 0, 0]
    assert got == pytest.approx(want)


@pytest.mark.parametrize("n", [3, 4])
def test_deal_by_cost_balances_partitions(spark, n):
    """Synthetic costs dealt from one input partition: every span lands
    in exactly one partition, and each partition's total cost is within
    one max-span of the ideal (total / n)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.spark.pipeline import SPAN_COST_SQL, _deal_by_cost

    rng = np.random.default_rng(n)
    rows = [
        (f"d{i % 7}", "media", f"m{i}", i,
         _png_head(int(rng.integers(10, 2000)), int(rng.integers(10, 1500))))
        for i in range(45)
    ] + [(f"d{i}", "media", f"x{i}", 100 + i, b"junk") for i in range(5)]
    src = _span_rows_df(spark, rows)
    placed = _deal_by_cost(src.coalesce(1), n).select(
        "doc_id", "offset", F.expr(SPAN_COST_SQL).alias("c"),
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
        _media_input(_media_span_rows(docs_df), F.broadcast(media_df), n)
        .filter(F.col("doc_id") == "monster")
        .select("offset", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert len(placed) == 30
    heavy_parts = [r.p for r in placed if r.offset % 5 == 0]
    assert len(heavy_parts) == 6 and set(heavy_parts) == set(range(n))


@pytest.mark.parametrize("n", [3, 4])
def test_deal_slot_is_snake_order(spark, n):
    """Inside each sorted input partition the k-th heaviest span gets
    slot snake(k) + partition id (mod n), where snake deals 0..n-1,
    n-1..0, ...: also for a partial last lap and a non-zero partition
    id (the rank is one counter per row, not one per CASE branch)."""
    from ocr_spark.spark.pipeline import _deal_by_cost

    def snake(k: int) -> int:
        lap, pos = divmod(k, n)
        return pos if lap % 2 == 0 else n - 1 - pos

    sizes = [n + 2, 2 * n + 1]  # both end in a partial lap
    sc = spark.sparkContext
    parts = [
        # strictly decreasing cost, so the sorted rank is k
        [(f"p{p}", "media", f"m{p}_{k}", k, _png_head(1000 - 10 * k, 50))
         for k in range(size)]
        for p, size in enumerate(sizes)
    ]
    src = spark.createDataFrame(
        sc.parallelize(parts[0], 1).union(sc.parallelize(parts[1], 1)),
        "doc_id string, kind string, media_ref string, offset int, png binary",
    )
    assert src.rdd.getNumPartitions() == 2
    got = {
        (r.doc_id, r.offset): r.span_slot
        for r in _deal_by_cost(src, n).select("doc_id", "offset", "span_slot").collect()
    }
    for p, size in enumerate(sizes):
        assert [got[(f"p{p}", k)] for k in range(size)] == [
            (snake(k) + p) % n for k in range(size)
        ]


def _assert_manifest_matches_output(spark, out_dir):
    """Every committed manifest row's counts equal the counts re-read
    from that bucket's parquet (zero for a bucket with no directory)."""
    from ocr_spark.spark.checkpoint import completed_buckets

    done = completed_buckets(out_dir)
    assert done
    for b, row in done.items():
        path = os.path.join(out_dir, f"bucket={b}")
        want = (0, 0, 0)
        if os.path.isdir(path):
            r = spark.read.parquet(path).selectExpr(
                "count(*) AS n", "sum(metrics.n_spans) AS s",
                "sum(metrics.skipped) AS k",
            ).first()
            want = (r.n, r.s or 0, r.k or 0)
        assert (row["n_docs"], row["n_spans"], row["n_skipped"]) == want, (b, row)
    return done


def test_manifest_counts_equal_reread_single_bucket_groups(spark, corpus_dir, tmp_path):
    from ocr_spark.spark.checkpoint import run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    out_dir = str(tmp_path / "out")
    run_extraction_job(
        spark, docs, media, out_dir, run_id="m1", n_buckets=2, span_partitions=4,
    )
    done = _assert_manifest_matches_output(spark, out_dir)
    assert sum(r["n_docs"] for r in done.values()) == docs.count()
    assert sum(r["n_skipped"] for r in done.values()) > 0  # planted skips


def test_manifest_counts_equal_reread_grouped_with_empty_bucket(
    spark, corpus_dir, tmp_path
):
    from ocr_spark.spark.checkpoint import run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    docs = docs.where("pmod(bucket, 3) != 2")  # runtime bucket 2 is empty
    out_dir = str(tmp_path / "out")
    run_extraction_job(
        spark, docs, media, out_dir, run_id="m3", n_buckets=3,
        buckets_per_job=3, span_partitions=4,
    )
    done = _assert_manifest_matches_output(spark, out_dir)
    assert sorted(done) == [0, 1, 2]
    assert done[2]["n_docs"] == 0 and done[0]["n_docs"] > 0
    assert sum(r["n_docs"] for r in done.values()) == docs.count()


def test_manifest_counts_equal_reread_hash_fallback(spark, corpus_dir, tmp_path):
    from ocr_spark.spark.checkpoint import run_extraction_job

    docs, media = read_corpus(spark, corpus_dir)
    docs, media = docs.drop("bucket"), media.drop("bucket")
    out_dir = str(tmp_path / "out")
    run_extraction_job(
        spark, docs, media, out_dir, run_id="mh", n_buckets=4,
        buckets_per_job=2, span_partitions=4,
    )
    done = _assert_manifest_matches_output(spark, out_dir)
    assert {r["filter"] for r in done.values()} == {"hash"}
    assert sum(r["n_docs"] for r in done.values()) == docs.count()


def _run_docs(spark, docs, media, **kw):
    """run_pipeline over in-memory (doc_id, spans) and (media_ref, payload)
    rows; returns (rows by doc_id, the oracle's output by doc_id)."""
    from ocr_spark.core import process_document
    from ocr_spark.spark import schemas as S

    docs_df = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
         for d, spans in docs],
        S.DOCUMENTS_SCHEMA,
    )
    media_df = spark.createDataFrame(
        [(ref, payload, 0, 0) for ref, payload in media.items()], S.MEDIA_SCHEMA
    )
    out = run_pipeline(spark, docs_df, media_df, span_partitions=4, **kw)
    rows = {r["doc_id"]: r for r in out.collect()}
    return rows, {d: process_document(d, spans, media.get) for d, spans in docs}


def _spdf_page_at(data: bytes, k: int) -> tuple[int, int]:
    """(start, length) of page k's PNG inside an SPDF container."""
    import struct

    pos = 10
    for _ in range(k):
        pos += 4 + struct.unpack(">I", data[pos : pos + 4])[0]
    return pos + 4, struct.unpack(">I", data[pos : pos + 4])[0]


def test_pdf_edge_cases_match_oracle(spark):
    """Page rows fan back in exactly as core.process_pdf_bytes does:
    twin spans stay two spans; a 0-page SPDF is one non-skipped empty
    span; an impossible page count, a truncated container, bad metadata
    JSON and a bad later page are each one counted skip whose pages add
    no confidence, steps or split method; a %PDF payload stays one row."""
    import json
    import struct

    import numpy as np

    from ocr_spark.extract.glyph import render_page
    from ocr_spark.imaging.png import encode_png
    from ocr_spark.pdfio import encode_image_pdf, encode_pdf

    pages = [render_page([f"pg{i} abc"], 220, 120, margin=10) for i in range(3)]
    good = encode_pdf(pages, {"title": "t"})
    start, ln = _spdf_page_at(good, 2)
    bad_page = bytearray(good)
    idat = bad_page.index(b"IDAT", start)
    bad_page[idat + 4 : start + ln - 12] = b"\xff" * (start + ln - 12 - idat - 4)
    meta_at = len(good) - len(json.dumps({"title": "t"}, sort_keys=True))
    bad_meta = good[: meta_at - 4] + struct.pack(">I", 9) + b"{not json"
    media = {
        "good": good,
        "zero": encode_pdf([]),
        "claims": b"SPDF1\n" + struct.pack(">I", 2**32 - 1) + b"\0" * 40,
        "trunc": good[: start + ln // 2],
        "meta": bad_meta,
        "badpage": bytes(bad_page),
        "real": encode_image_pdf([np.asarray(p, np.uint8) for p in pages[:2]]),
        "png": encode_png(render_page(["a media page"], 300, 120)),
    }

    def span(kind, ref, off):
        return {"kind": kind, "text": "", "media_ref": ref, "offset": off}

    docs = [
        ("twins", [span("pdf", "good", 0), span("pdf", "good", 0)]),
        ("zero", [span("pdf", "zero", 0), span("media", "png", 1)]),
    ] + [
        (ref, [span("media", "png", 0), span("pdf", ref, 1)])
        for ref in ("claims", "trunc", "meta", "badpage", "real")
    ]
    rows, oracle = _run_docs(spark, docs, media)
    assert_equals_oracle(rows, oracle)
    assert len(rows["twins"]["spans"]) == 2
    assert rows["twins"]["spans"][0]["text"].count("=== Page") == 3
    assert rows["zero"]["metrics"]["skipped"] == 0
    assert "none" in rows["zero"]["metrics"]["split_methods"]
    for ref in ("claims", "trunc", "meta", "badpage"):
        m = rows[ref]["metrics"]
        assert m["skipped"] == 1 and rows[ref]["spans"][1]["text"] == "", ref
    assert rows["real"]["metrics"]["skipped"] == 0


def test_twelve_page_pdf_matches_oracle(spark):
    from ocr_spark.extract.glyph import render_page
    from ocr_spark.pdfio import encode_pdf

    data = encode_pdf(
        [render_page([f"page {i} of twelve"], 220, 190, margin=12) for i in range(12)]
    )
    docs = [("p12", [{"kind": "pdf", "text": "", "media_ref": "p", "offset": 0}])]
    rows, oracle = _run_docs(spark, docs, {"p": data})
    assert_equals_oracle(rows, oracle)
    assert rows["p12"]["spans"][0]["text"].count("=== Page") == 12


def test_500_page_pdf_pages_spread_over_every_deal_partition(spark):
    """The deal's output, without running the UDF: a 500-page SPDF's page
    rows land on every one of the n partitions, each within one page of
    the ideal count, and its rows carry at most twice the payload (each
    page its own PNG, plus the container check's whole payload)."""
    from collections import Counter

    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.pdfio import encode_pdf
    from ocr_spark.spark import schemas as S
    from ocr_spark.spark.pipeline import _media_input, _media_span_rows

    n = 4
    data = encode_pdf([np.full((8, 8), 255, np.uint8)] * 500)
    docs_df = spark.createDataFrame(
        [("big", [("pdf", "", "big", 0)])], S.DOCUMENTS_SCHEMA
    )
    media_df = spark.createDataFrame([("big", data, 0, 0)], S.MEDIA_SCHEMA)
    placed = (
        _media_input(_media_span_rows(docs_df), F.broadcast(media_df), n)
        .selectExpr("page", "png", "spark_partition_id() AS p")
        .collect()
    )
    pages = [r for r in placed if r.page >= 0]
    assert sorted(r.page for r in pages) == list(range(500))
    assert [r.png for r in placed if r.page == -1] == [data]
    for r in pages:
        start, ln = _spdf_page_at(data, r.page)
        assert r.png == data[start : start + ln]
    counts = Counter(r.p for r in pages)
    assert set(counts) == set(range(n)), counts
    assert all(abs(c - 500 / n) <= 1 for c in counts.values()), counts
    assert sum(len(r.png) for r in placed) <= 2 * len(data)
