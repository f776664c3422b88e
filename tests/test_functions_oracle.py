"""Every SQL-checkable operator must match its DuckDB oracle exactly
(row count, column names, order-insensitive values) — the same gate the
driver applies via __spark_entry__.queries()/oracle_sql()."""

from __future__ import annotations

import pytest

from ocr_spark.functions import all_queries
from ocr_spark.functions.compare import compare_query

SF_DIR = "/root/testdata/sf0.001"

_SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(spark, name):
    spec = _SPECS[name]
    r = compare_query(spark, SF_DIR, name, spec)
    assert r["ok"], r["detail"]
    assert r["rows"] > 0, "query returned no rows"


@pytest.mark.parametrize(
    "name", ["events_sessionize", "events_rollup", "events_rollup_stream"]
)
def test_timestamp_queries_survive_foreign_session_tz(spark, name):
    """The driver's session may not be UTC; the timestamp queries pin the
    session TZ themselves, so the oracle hash must stay green even when
    the harness session starts in another zone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        r = compare_query(spark, SF_DIR, name, _SPECS[name])
        assert r["ok"], r["detail"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("name", ["dedup_exact_stream", "events_rollup_stream"])
def test_stream_queries_leave_no_scratch_dir(spark, name, tmp_path, monkeypatch):
    """The streaming queries drain through a scratch dir; once their
    result is collected, no `ocr_spark_stream_*` dir is left behind."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert _SPECS[name].fn(spark, SF_DIR).collect()
    left = [p.name for p in tmp_path.iterdir() if p.name.startswith("ocr_spark_stream_")]
    assert not left, left


def test_simhash_band_cap_bounds_degenerate_cluster(spark, tmp_path):
    """A 1,000-doc near-identical cluster must NOT explode into ~500k
    candidate pairs (VERDICT r2 #1): every (table, band-value) bucket is
    capped at SIMHASH_BAND_CAP docs, bounding the output at
    bands * C(cap, 2) no matter how degenerate the cluster — and the
    query still matches its oracle on the crafted corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import (
        QUERIES,
        SIMHASH_BAND_CAP,
        SIMHASH_BANDS,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        {"doc_id": i, "text": base + f"tail{i % 7}"} for i in range(1000)
    ]
    d = tmp_path / "sf_cluster"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["dedup_simhash_pairs"]
    n_pairs = spec.fn(spark, str(d)).count()
    bound = SIMHASH_BANDS * SIMHASH_BAND_CAP * (SIMHASH_BAND_CAP - 1) // 2
    assert 0 < n_pairs <= bound, (n_pairs, bound)  # not ~499,500
    r = compare_query(spark, str(d), "dedup_simhash_pairs", spec)
    assert r["ok"], r["detail"]


def test_repetition_line_metrics_on_crafted_corpus(spark, tmp_path):
    """The fixture corpus has no newlines, so the Gopher-style line
    metrics are only exercised here: duplicated lines, empty docs,
    single-word docs, and the top-2-gram tie-break (lexicographically
    smallest among max-count grams) — plus oracle parity on the same
    crafted table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.textops import QUERIES

    rows = [
        {"doc_id": 1, "text": "alpha beta\nalpha beta\ngamma\n\nalpha beta"},
        {"doc_id": 2, "text": ""},
        {"doc_id": 3, "text": "word"},
        {"doc_id": 4, "text": "b b b a a a"},
        {"doc_id": 5, "text": "x y x y x y"},
    ]
    d = tmp_path / "sf_rep"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["text_repetition"]
    got = {r["doc_id"]: r.asDict() for r in spec.fn(spark, str(d)).collect()}

    r1 = got[1]  # lines: [alpha beta, alpha beta, gamma, alpha beta]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == round(2 / 4, 6)
    assert r1["dup_line_char_frac"] == round((35 - 15) / 35, 6)

    r2 = got[2]  # empty text: no lines, no words, null top gram
    assert r2["n_lines"] == 0 and r2["n_words"] == 0
    assert r2["dup_line_frac"] == 0.0 and r2["top_2gram"] is None
    assert r2["top2gram_char_frac"] == 0.0

    r3 = got[3]  # single word: no 2-grams
    assert r3["n_words"] == 1 and r3["top_2gram"] is None

    # tie: "a a" and "b b" both occur twice -> smallest gram wins
    assert got[4]["top_2gram"] == "a a"

    r5 = got[5]  # "x y" x3 over 11 chars
    assert r5["top_2gram"] == "x y"
    assert r5["top2gram_char_frac"] == round(3 * 3 / 11, 6)

    r = compare_query(spark, str(d), "text_repetition", spec)
    assert r["ok"], r["detail"]


def test_jaccard_block_guard_is_subquadratic(spark, tmp_path):
    """One oversized same-length block (VERDICT r2 #4): candidate pairs
    touching a big block must pass the minhash band prefilter, so a
    202-doc block of dissimilar docs yields candidates ~0 (not
    C(202,2) = 20k+), while a planted near-dup pair inside the block
    still surfaces — and the query matches its oracle on the corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import (
        JAC_BLOCK_CAP,
        QUERIES,
        _jac_docs_flagged,
        ngram_jaccard_banded_candidates,
    )

    def noise(i):  # dissimilar fixed-length texts
        return " ".join(
            hashlib.md5(f"{i}:{k}".encode()).hexdigest() for k in range(6)
        )

    n = 200
    assert n > JAC_BLOCK_CAP
    rows = [
        {"doc_id": i, "source": "s", "text": noise(i), "n_chars": 100}
        for i in range(n)
    ]
    near = noise(9000)
    rows += [
        {"doc_id": 9000, "source": "s", "text": near, "n_chars": 100},
        {"doc_id": 9001, "source": "s", "text": near[:-8] + "deadbeef",
         "n_chars": 100},
    ]
    d = tmp_path / "sf_block"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    t2 = _jac_docs_flagged(spark, str(d))
    assert t2.filter("is_big").count() == n + 2  # the whole block is big
    n_cand = ngram_jaccard_banded_candidates(t2).count()
    assert n_cand < 2 * (n + 2), n_cand  # sub-quadratic, not ~20k

    spec = QUERIES["dedup_ngram_jaccard"]
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in spec.fn(spark, str(d)).collect()}
    assert (9000, 9001) in out  # planted near-dup survives the prefilter
    r = compare_query(spark, str(d), "dedup_ngram_jaccard", spec)
    assert r["ok"], r["detail"]


def test_embedding_dedup_cap_bounds_degenerate_cluster(spark, tmp_path):
    """A 600-vector near-identical cluster lands in one LSH bucket per
    table; the per-bucket cap must bound candidates at
    tables * C(cap, 2) instead of C(600, 2) — and the query still
    matches its oracle on the crafted corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import (
        EMB_DUP_BUCKET_CAP,
        EMB_DUP_TABLES,
        QUERIES,
    )

    def vec(i):
        # one shared direction + per-vector micro-noise: same bucket,
        # cosine ~1 for every pair
        base = [1.0 if d % 2 == 0 else -1.0 for d in range(64)]
        h = hashlib.md5(f"v{i}".encode()).digest()
        return [
            float(b) + (h[d % 16] - 128) / 12800.0 for d, b in enumerate(base)
        ]

    n = 600
    assert n > EMB_DUP_BUCKET_CAP
    rows = [{"vec_id": i, "embedding": vec(i), "label": 0} for i in range(n)]
    d = tmp_path / "sf_emb"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            rows,
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        str(d / "embeddings.parquet"),
    )

    spec = QUERIES["dedup_embedding_cosine"]
    n_pairs = spec.fn(spark, str(d)).count()
    bound = EMB_DUP_TABLES * EMB_DUP_BUCKET_CAP * (EMB_DUP_BUCKET_CAP - 1) // 2
    assert 0 < n_pairs <= bound, (n_pairs, bound)  # not ~179,700
    r = compare_query(spark, str(d), "dedup_embedding_cosine", spec)
    assert r["ok"], r["detail"]


def test_semdedup_keeps_one_per_duplicate_group(spark, tmp_path):
    """SemDeDup semantics on a crafted corpus: 8 duplicate groups of 8
    IDENTICAL vectors along mutually ORTHOGONAL Hadamard directions.
    Identical vectors assign to the same cluster by construction (the
    assignment expression is deterministic in the input), in-group
    cosine is 1 (removed down to the lowest id), cross-group cosine is
    exactly 0 (< SEMDEDUP_THRESH — never removed across groups even if
    co-clustered). So the keep-list must be exactly the 8 group minima,
    and the crafted corpus must still match the oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import QUERIES

    def hadamard_row(g: int) -> list[float]:
        # rows of the order-64 Walsh-Hadamard matrix: exactly orthogonal
        return [
            1.0 if bin(g & d).count("1") % 2 == 0 else -1.0
            for d in range(64)
        ]

    rows = [
        {"vec_id": i, "embedding": hadamard_row(i // 8), "label": 0}
        for i in range(64)
    ]
    d = tmp_path / "sf_semdedup"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            rows,
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        str(d / "embeddings.parquet"),
    )

    spec = QUERIES["dedup_semantic_cluster"]
    out = {
        int(r["vec_id"]): (int(r["cid"]), int(r["kept"]))
        for r in spec.fn(spark, str(d)).collect()
    }
    assert len(out) == 64
    kept = sorted(v for v, (_, k) in out.items() if k == 1)
    assert kept == [0, 8, 16, 24, 32, 40, 48, 56], kept
    for g in range(8):
        cids = {out[i][0] for i in range(8 * g, 8 * g + 8)}
        assert len(cids) == 1, (g, cids)  # identical vectors co-cluster
    r = compare_query(spark, str(d), "dedup_semantic_cluster", spec)
    assert r["ok"], r["detail"]


def test_quality_budget_is_within_budget_and_greedy_maximal(spark):
    """The budgeted selection must (a) spend at most BUDGET_NUM/DEN of
    each language's tokens, (b) be bin-greedy-maximal: if any bin was
    excluded, adding the best excluded bin would bust the budget, and
    (c) keep a bin-prefix: every kept doc's bin >= every excluded
    doc's bin within the language."""
    from collections import defaultdict

    from ocr_spark.functions.textops import BUDGET_DEN, BUDGET_NUM, QUERIES

    rows = QUERIES["curate_quality_budget"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    assert len(by_lang) >= 2
    saw_exclusion = False
    for lang, rs in by_lang.items():
        total = sum(r["n_tokens"] for r in rs)
        kept_tokens = sum(r["n_tokens"] for r in rs if r["kept"])
        assert kept_tokens * BUDGET_DEN <= total * BUDGET_NUM, lang
        excluded = [r for r in rs if not r["kept"]]
        if excluded:
            saw_exclusion = True
            kept_bins = {r["qbin"] for r in rs if r["kept"]}
            best_excl_bin = max(r["qbin"] for r in excluded)
            if kept_bins:
                assert min(kept_bins) > best_excl_bin, lang  # bin prefix
            bust = kept_tokens + sum(
                r["n_tokens"] for r in excluded if r["qbin"] == best_excl_bin
            )
            assert bust * BUDGET_DEN > total * BUDGET_NUM, lang  # maximal
    assert saw_exclusion  # the fixture corpus must exercise the cut


def test_trained_ivf_is_deterministic_and_lifts_recall(spark):
    """VERDICT r2 #6: the spherical-k-means quantizer must be (a)
    deterministic — the same centroid literals are inlined into the
    Spark plan and the DuckDB oracle, so a retrain must reproduce them
    bit-for-bit — (b) better-balanced than the first-K quantizer
    (lower max list size AND stddev: balance is the trained quantizer's
    scale guarantee — the heaviest inverted list bounds probe-stage
    skew), and (c) higher-recall at sf0.01 (at the 500-vector sf0.001
    the recall comparison is noise; BENCH/BASELINE.md has the curve).
    The first-K quantizer (the table's first IVF_K vectors) is built
    here as the reference."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocr_spark.functions import similarity as S

    S._CENTROID_CACHE.pop(SF_DIR, None)
    c1 = S.train_centroids(SF_DIR)
    S._CENTROID_CACHE.pop(SF_DIR, None)
    c2 = S.train_centroids(SF_DIR)
    assert c1 == c2
    assert len(c1) == S.IVF_K and len(c1[0][1]) == S.DIM

    def first_k_of(sf):
        return sorted(
            (int(r["vec_id"]), list(r["embedding"]))
            for r in S.load(spark, sf, "embeddings")
            .filter(F.col("vec_id") < S.IVF_K)
            .select("vec_id", "embedding")
            .collect()
        )

    emb = S.load(spark, SF_DIR, "embeddings")

    def list_sizes(cents):
        rows = S.ivf_lists(emb, cents).groupBy("cid").count().collect()
        return np.array([r["count"] for r in rows])

    s_first, s_trained = list_sizes(first_k_of(SF_DIR)), list_sizes(c1)
    assert s_trained.max() <= s_first.max(), (s_trained.max(), s_first.max())
    assert s_trained.std() < s_first.std(), (s_trained.std(), s_first.std())

    sf01 = "/root/testdata/sf0.01"

    def pairs(df):
        df = df.filter(F.col("rnk") <= S.IVF_TOPK)
        return {
            (r["query_id"], r["neighbor_id"])
            for r in df.select("query_id", "neighbor_id").collect()
        }

    truth = pairs(S.q_cosine_topk(spark, sf01))
    first_k = pairs(S._ivf_search(spark, sf01, first_k_of(sf01)))
    r_first_k = len(first_k & truth) / len(truth)
    r_trained = len(pairs(S.q_ann_ivf_trained(spark, sf01)) & truth) / len(truth)
    assert r_trained > r_first_k, (r_trained, r_first_k)
    assert r_trained >= 0.7, r_trained  # the default (K, nprobe) bar


# sha256 of json.dumps(artifact), recorded when the first-K ANN variants
# and their sweep parameters were deleted; the trained stack must not move
_TRAINED_DIGESTS = {
    "sf0.001": (
        "293421a337869a840deaf13787d76285df2598eaaaa1ef2eabe314a1f454901f",
        "f163769feafd5ace743bead0e08018e1e333dc77f7279dfa5132458216c56f40",
    ),
    "sf0.01": (
        "71701adfbb277627999eefec0a95d640f815004f831734b461b0ca55e2e31397",
        "a182ce5b7fc12360d2dc8410394c0aea244e51f9122c56c8f6ac44a6cf69bccf",
    ),
}


@pytest.mark.parametrize("sf", sorted(_TRAINED_DIGESTS))
def test_trained_ann_artifacts_are_pinned(sf):
    """The trained ANN oracles inline the same centroid and codebook
    literals as the Spark plans, so a change in training passes the
    oracle gate unseen: pin both artifacts by digest."""
    import hashlib
    import json

    from ocr_spark.functions import similarity as S

    d = f"/root/testdata/{sf}"
    S._CENTROID_CACHE.pop(d, None)
    S._PQ_TRAIN_CACHE.pop(d, None)
    got = tuple(
        hashlib.sha256(json.dumps(a).encode()).hexdigest()
        for a in (S.train_centroids(d), S.train_pq_codebooks(d))
    )
    assert got == _TRAINED_DIGESTS[sf]


def test_trained_ivf_fit_read_is_bounded():
    """VERDICT r3 #1: the quantizer fit must never materialize more than
    sample + one record batch of the embeddings table on the driver —
    and the streaming selection must equal the full-read stable-sort
    selection exactly (same sample => same centroids => same inlined
    oracle literals)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from ocr_spark.functions import similarity as S

    path = os.path.join(SF_DIR, "embeddings.parquet")
    tbl = pq.read_table(path, columns=["vec_id", "embedding"])
    vid = np.asarray(tbl.column("vec_id").to_pylist())
    n, batch = 100, 97  # force several batches with a ragged tail
    order = np.argsort(vid, kind="stable")[:n]
    want_vid = vid[order]
    want_emb = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)[
        order
    ]

    got_vid, got_emb, peak = S._bounded_lowest_sample(path, n, batch_rows=batch)
    assert peak <= n + batch, peak
    assert peak < tbl.num_rows  # the bound actually bit on this table
    np.testing.assert_array_equal(got_vid, want_vid)
    np.testing.assert_array_equal(got_emb, want_emb)

    # the production fit path holds at most IVF_TRAIN_SAMPLE + one batch
    _, _, peak_prod = S._bounded_lowest_sample(path, S.IVF_TRAIN_SAMPLE)
    assert peak_prod <= S.IVF_TRAIN_SAMPLE + S.TRAIN_BATCH_ROWS, peak_prod


def test_cc_converges_on_path_shaped_component(spark):
    """VERDICT r3 #3: hash-to-min must converge on a LONG-DIAMETER
    (path-shaped) component — the worst case for round count — and the
    fixpoint test must be label-change-based, not id-arithmetic: the
    same loop must work verbatim over STRING doc_ids, where a SUM(rep)
    fixpoint is impossible (sum of strings is NULL every round, which
    the old test would have read as an immediate false fixpoint)."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.dedup import connected_components

    rounds = []

    def ckpt(df):
        rounds.append(1)
        return df.localCheckpoint()

    # integer chain 1-2-...-8 plus singleton 9: diameter 7
    edges = [(i, i + 1) for i in range(1, 8)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "doc_a long, doc_b long"
    ).localCheckpoint()
    labels = spark.createDataFrame(
        [(i, i) for i in range(1, 10)], "doc_id long, rep long"
    )
    out = {r["doc_id"]: r["rep"] for r in connected_components(labels, sym, ckpt).collect()}
    assert out == {**{i: 1 for i in range(1, 9)}, 9: 9}

    # string ids: chain a-b-c-d-e, singleton z
    s_edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    sym_s = spark.createDataFrame(
        s_edges + [(b, a) for a, b in s_edges], "doc_a string, doc_b string"
    ).localCheckpoint()
    labels_s = spark.createDataFrame(
        [(x, x) for x in "abcdez"], "doc_id string, rep string"
    )
    out_s = {
        r["doc_id"]: r["rep"]
        for r in connected_components(labels_s, sym_s, ckpt).collect()
    }
    assert out_s == {**{x: "a" for x in "abcde"}, "z": "z"}


def test_dedup_clusters_durable_checkpoint(spark, tmp_path):
    """checkpoint_dir= swaps localCheckpoint for a durable
    spark.checkpoint: same result rows, checkpoint files on disk."""
    import os

    from ocr_spark.functions.dedup import q_dedup_clusters

    ckpt_dir = str(tmp_path / "cc_ckpt")
    base = {
        tuple(r) for r in q_dedup_clusters(spark, SF_DIR).collect()
    }
    durable = {
        tuple(r)
        for r in q_dedup_clusters(spark, SF_DIR, checkpoint_dir=ckpt_dir).collect()
    }
    assert base == durable
    found = [f for _, _, fs in os.walk(ckpt_dir) for f in fs]
    assert found, "durable checkpoint wrote nothing"


def test_jaccard_finds_boundary_straddling_pair(spark, tmp_path):
    """Two near-identical docs whose lengths straddle a LEN_BUCKET
    boundary must be candidates (adjacent-bucket probing), and the query
    must still match its oracle on the crafted corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import LEN_BUCKET, QUERIES

    base = "x" * (LEN_BUCKET - 2)          # lb = 0 (len 126)
    near = base + "yyyy"                   # lb = 1 (len 130), high overlap
    far = "z" * 50                         # different content, lb = 0
    rows = [
        {"doc_id": 1, "source": "s", "text": base, "n_chars": len(base)},
        {"doc_id": 2, "source": "s", "text": near, "n_chars": len(near)},
        {"doc_id": 3, "source": "s", "text": far, "n_chars": len(far)},
    ]
    d = tmp_path / "sf_tiny"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["dedup_ngram_jaccard"]
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spec.fn(spark, str(d)).collect()
    }
    assert (1, 2) in got, got  # the straddling pair is found
    r = compare_query(spark, str(d), "dedup_ngram_jaccard", spec)
    assert r["ok"], r["detail"]


def test_dedup_clusters_are_transitive(spark, tmp_path):
    """A~B and B~C above the threshold but A~C below it must still land
    all three in ONE cluster (that's what connected components adds over
    the pairwise queries), with the min doc_id as representative and
    exactly one keep per cluster — and the Spark label-propagation loop
    must match the recursive-CTE oracle on the crafted corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import QUERIES

    words = [f"w{i:02d}" for i in range(30)]
    rows = [
        # B spans A and C; A and C overlap too little to pair directly
        {"doc_id": 10, "text": " ".join(words[0:22])},   # A
        {"doc_id": 11, "text": " ".join(words[0:30])},   # B
        {"doc_id": 12, "text": " ".join(words[8:30])},   # C
        {"doc_id": 13, "text": "completely unrelated content here"},
    ]
    d = tmp_path / "sf_chain"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["dedup_clusters"]
    out = {r["doc_id"]: r for r in spec.fn(spark, str(d)).collect()}
    assert {out[i]["cluster_rep"] for i in (10, 11, 12)} == {10}
    assert {out[i]["cluster_size"] for i in (10, 11, 12)} == {3}
    assert [out[i]["keep"] for i in (10, 11, 12, 13)] == [True, False, False, True]
    assert out[13]["cluster_rep"] == 13 and out[13]["cluster_size"] == 1
    r = compare_query(spark, str(d), "dedup_clusters", spec)
    assert r["ok"], r["detail"]


def test_stratified_sample_is_reproducible_per_doc(spark, tmp_path):
    """The keep decision is a pure function of doc_id: the same doc must
    sample identically regardless of which corpus (or corpus size) it
    appears in — the property that makes the sample re-ingestion-stable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.textops import QUERIES

    def write(path, ids):
        rows = [
            {"doc_id": i, "source": "s", "lang": "en", "text": "t"} for i in ids
        ]
        path.mkdir()
        pq.write_table(pa.Table.from_pylist(rows), str(path / "documents.parquet"))

    spec = QUERIES["sample_stratified"]
    small = tmp_path / "small"
    big = tmp_path / "big"
    write(small, range(50))
    write(big, range(200))
    h_small = spec.fn(spark, str(small)).collect()[0]["kept_ids_md5"]
    rows_big = spec.fn(spark, str(big)).collect()[0]
    # re-derive the big corpus' per-doc keeps and restrict to ids < 50:
    # they must hash to exactly the small corpus' kept set
    import hashlib

    from ocr_spark.functions.textops import _rate_col, _sample_u_col

    docs = spark.read.parquet(f"{big}/documents.parquet")
    kept = [
        r["doc_id"]
        for r in docs.select(
            "doc_id", (_sample_u_col() < _rate_col()).alias("k")
        ).collect()
        if r["k"]
    ]
    sub = sorted(i for i in kept if i < 50)
    assert (
        hashlib.md5(",".join(str(i) for i in sub).encode()).hexdigest() == h_small
    )
    assert rows_big["n_total"] == 200


@pytest.mark.parametrize("user", ["minhash_shingles", "jaccard_5grams"])
def test_minhash_signatures_match_oracle_seeds(spark, tmp_path, user):
    """The lane-split minhash signature sig[s*4+lane] must be hex chars
    [8*lane, 8*lane+8) of md5(seed_s || gram) minimized over the doc's
    grams — the exact construction the DuckDB oracle SQL generates from
    the same seeds/_MD5_LANES constants — and each band value the md5
    of its R '|'-joined signatures. Checked through the one band
    builder for both of its users: MINHASH_SEEDS over word shingles
    and the Jaccard prefilter's _JAC_SEEDS over char 5-grams.
    Regression for a silent arity bug: `lambda s, h=h: ...` inside
    F.transform is the two-parameter (element, index) form, so the seed
    stringified to an arbitrary plan-build-dependent "Column<'y_N'>|" —
    nondeterministic across plan builds and never equal to the oracle's
    seeds. The LSH still *looked* green because true near-dups collide
    under any seed."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.dedup import (
        _JAC_SEEDS,
        JAC_MH_B,
        JAC_MH_R,
        MINHASH_B,
        MINHASH_R,
        MINHASH_SEEDS,
        _MD5_LANES,
        _jac_docs_flagged,
        _minhash_bands,
        _shingles_col,
    )

    words = [f"w{i:02d}" for i in range(22)]
    text = " ".join(words)
    d = tmp_path / "sf_sig"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": 1, "source": "s", "text": text, "n_chars": len(text)}]
        ),
        str(d / "documents.parquet"),
    )
    if user == "minhash_shingles":
        seeds, r, b = MINHASH_SEEDS, MINHASH_R, MINHASH_B
        docs = spark.read.parquet(str(d / "documents.parquet"))
        grams = docs.select("doc_id", _shingles_col().alias("grams"))
    else:
        seeds, r, b = _JAC_SEEDS, JAC_MH_R, JAC_MH_B
        grams = _jac_docs_flagged(spark, str(d)).select("doc_id", "grams")
    rows = _minhash_bands(grams, "grams", seeds, r, b).collect()
    assert sorted(x["band_id"] for x in rows) == list(range(b))
    row = rows[0]
    assert row["grams"], "the doc must have grams"
    expected_sigs = []
    for s, seed in enumerate(seeds):
        for lane in range(_MD5_LANES):
            expected = min(
                hashlib.md5(f"{seed}{g}".encode()).hexdigest()[
                    8 * lane : 8 * lane + 8
                ]
                for g in row["grams"]
            )
            i = s * _MD5_LANES + lane
            assert row[f"sig{i}"] == expected, f"sig{i} has a wrong seed/lane"
            expected_sigs.append(expected)
    for x in rows:
        band = "|".join(expected_sigs[x["band_id"] * r : (x["band_id"] + 1) * r])
        assert x["band_val"] == hashlib.md5(band.encode()).hexdigest()


def test_dedup_clusters_checkpoint_dir_is_restored(spark, tmp_path):
    """checkpoint_dir= must not leak: the session-global checkpoint dir
    is restored after the query, so later df.checkpoint() calls in a
    long-lived session don't silently land under this query's (possibly
    deleted) directory."""
    from ocr_spark.functions.dedup import q_dedup_clusters

    prev_dir = str(tmp_path / "session_ckpt")
    spark.sparkContext.setCheckpointDir(prev_dir)
    q_dedup_clusters(
        spark, SF_DIR, checkpoint_dir=str(tmp_path / "cc_ckpt2")
    ).collect()
    cur = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert cur.isDefined()
    # Spark nests a per-set UUID subdir under the root, so assert the
    # restored dir is under the session root, not the query's dir
    got = cur.get()
    assert "session_ckpt" in got and "cc_ckpt2" not in got, got


def test_connected_components_raises_on_non_convergence(spark):
    """A component whose diameter exceeds max_iters must raise — partial
    labels would silently diverge from the exact fixpoint (and from the
    recursive-CTE oracle)."""
    import pytest as _pytest

    from ocr_spark.functions.dedup import connected_components

    def ckpt(df):
        return df.localCheckpoint()

    edges = [(i, i + 1) for i in range(1, 8)]  # chain 1..8, diameter 7
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "doc_a long, doc_b long"
    ).localCheckpoint()
    labels = spark.createDataFrame(
        [(i, i) for i in range(1, 9)], "doc_id long, rep long"
    )
    with _pytest.raises(ValueError, match="did not converge"):
        connected_components(labels, sym, ckpt, max_iters=2)
    # and with enough rounds the same graph converges exactly
    out = {
        r["doc_id"]: r["rep"]
        for r in connected_components(labels, sym, ckpt, max_iters=10).collect()
    }
    assert out == {i: 1 for i in range(1, 9)}


def test_pack_sequences_boundary_crossing(spark, tmp_path):
    """Concat-and-chunk semantics: a doc that straddles a pack boundary
    belongs to the pack where it STARTS; empty docs consume no budget.
    Crafted single-shard corpus with known token counts, plus oracle
    parity on the same table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.compare import compare_query
    from ocr_spark.functions.textops import PACK_BUDGET, PACK_SHARDS, QUERIES

    assert PACK_BUDGET == 512  # expectations below are for this budget
    rows = [
        {"doc_id": i * PACK_SHARDS, "text": " ".join(["w"] * n)}
        for i, n in enumerate([300, 0, 300, 300])
    ]
    d = tmp_path / "sf_pack"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["pack_sequences"]
    got = {
        r["doc_id"]: (r["shard"], r["n_tokens"], r["pack_id"], r["offset_in_pack"])
        for r in spec.fn(spark, str(d)).collect()
    }
    assert got[0] == (0, 300, 0, 0)
    assert got[PACK_SHARDS] == (0, 0, 0, 300)  # empty doc: placed, no budget
    assert got[2 * PACK_SHARDS] == (0, 300, 0, 300)  # straddles into pack 1
    assert got[3 * PACK_SHARDS] == (0, 300, 1, 88)  # 600 - 512
    r = compare_query(spark, str(d), "pack_sequences", spec)
    assert r["ok"], r["detail"]


def test_bigram_rarity_flags_gibberish(spark, tmp_path):
    """The corpus-trained rarity signal must fire on the one gibberish
    doc (bigrams far below mean frequency) and stay zero on the clean
    majority — plus oracle parity on the crafted table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.compare import compare_query
    from ocr_spark.functions.textops import QUERIES

    rows = [
        {"doc_id": i, "text": "the quick brown fox jumps over the lazy dog " * 3}
        for i in range(50)
    ]
    rows.append({"doc_id": 50, "text": "qzxj vqwk zzqx jxqv"})
    d = tmp_path / "sf_rarity"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["text_bigram_rarity"]
    got = {r["doc_id"]: r["rare_ppm"] for r in spec.fn(spark, str(d)).collect()}
    assert got[50] > 500_000, got[50]  # mostly-rare bigrams
    assert all(v < 100_000 for k, v in got.items() if k != 50), got
    r = compare_query(spark, str(d), "text_bigram_rarity", spec)
    assert r["ok"], r["detail"]


def test_curate_pack_each_gate_fires(spark, tmp_path):
    """Composition correctness: the planted duplicate, the too-short
    doc, and the gibberish doc must each be dropped by their gate, and
    the survivors pack contiguously — plus oracle parity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.compare import compare_query
    from ocr_spark.functions.textops import PACK_SHARDS, QUERIES

    from itertools import permutations

    n_clean = 20
    clean = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [
        {"doc_id": i * PACK_SHARDS, "text": clean + f"suffix{i}"}
        for i in range(n_clean)
    ]
    # dup of doc 0 (same normalized hash), dropped by the canonical rule
    rows.append({"doc_id": n_clean * PACK_SHARDS, "text": rows[0]["text"].upper()})
    # < min tokens
    rows.append({"doc_id": (n_clean + 1) * PACK_SHARDS, "text": "too short"})
    # gibberish: 24 DISTINCT junk words (repeating one phrase would make
    # its bigrams corpus-common and defeat the rarity gate)
    junk = " ".join("".join(p) for p in list(permutations("qzxjv", 4))[:24])
    rows.append({"doc_id": (n_clean + 2) * PACK_SHARDS, "text": junk})
    d = tmp_path / "sf_curate"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["curate_pack_pipeline"]
    out = {r["doc_id"]: r for r in spec.fn(spark, str(d)).collect()}
    kept = set(out)
    assert kept == {i * PACK_SHARDS for i in range(n_clean)}, kept
    # all in shard 0; packs assigned over the survivor sequence only
    assert out[0]["pack_id"] == 0 and out[0]["offset_in_pack"] == 0
    r = compare_query(spark, str(d), "curate_pack_pipeline", spec)
    assert r["ok"], r["detail"]


def test_leakage_safe_split_keeps_near_dup_pairs_together(spark):
    """The split's whole point: no confirmed near-dup pair may straddle
    train/eval (doc-level random splits leak eval content into train via
    near-twins). Every CLUSTER_JACCARD_MIN-confirmed MinHash pair must
    land in one split — transitively, via the CC labels — and the rule
    must still produce both split values on the fixture corpus."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.dedup import (
        CLUSTER_JACCARD_MIN,
        q_dedup_minhash,
        q_split_leakage_safe,
    )

    sf = "/root/testdata/sf0.001"
    split = q_split_leakage_safe(spark, sf)
    pairs = q_dedup_minhash(spark, sf).filter(
        F.col("jaccard") >= CLUSTER_JACCARD_MIN
    )
    joined = (
        pairs.join(
            split.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .select("sa", "sb")
        .collect()
    )
    assert joined, "fixture corpus must contain confirmed near-dup pairs"
    assert all(r["sa"] == r["sb"] for r in joined), joined
    vals = {r["split"] for r in split.select("split").distinct().collect()}
    assert vals == {"train", "eval"}, vals


def test_kmeans_trainer_oracle_and_convergence():
    """The distributed k-means trainer must actually train: mean cosine
    to the assigned centroid strictly improves over the first-K init,
    and every vector is counted in exactly one list. The rows read here
    come from the DuckDB replay of the whole training run (pure SQL over
    the table, zero data-derived literals);
    test_query_matches_oracle[ivf_train_kmeans] asserts that Spark's
    trainer returns exactly these rows, so the pair of tests asserts
    that Spark's trainer converges without running it twice."""
    import numpy as np
    import pyarrow.parquet as pq

    from ocr_spark.functions import similarity as S
    from ocr_spark.functions.compare import duckdb_con

    sf = "/root/testdata/sf0.001"
    res = duckdb_con(sf).execute(S.SQL_IVF_TRAIN_KMEANS)
    cols = [d[0] for d in res.description]
    out = [dict(zip(cols, r)) for r in res.fetchall()]
    tbl = pq.read_table(sf + "/embeddings.parquet")
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    assert sum(row["n_members"] for row in out) // S.DIM == len(emb)

    trained = np.zeros((S.KM_K, S.DIM))
    for row in out:
        trained[row["cid"], row["dim"]] = row["c_q"] / S.KM_Q
    init = emb[np.array(tbl.column("vec_id").to_pylist()) < S.KM_K]

    def mean_best_cos(cents):
        u = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        return float((u @ c.T).max(axis=1).mean())

    assert mean_best_cos(trained) > mean_best_cos(init)


def test_bm25_rare_term_dominates(spark):
    """BM25 semantics on the fixture corpus: 'dup' is ~30x rarer than the
    other query terms, so its idf dominates — every doc containing 'dup'
    must outrank every doc that merely matches the common terms. The
    oracle hash match is test_query_matches_oracle[text_bm25]."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import load
    from ocr_spark.functions.textops import BM25_TOPK, q_text_bm25

    sf = "/root/testdata/sf0.001"
    top = q_text_bm25(spark, sf).collect()
    assert len(top) == BM25_TOPK
    assert [row["rank"] for row in top] == list(range(1, BM25_TOPK + 1))
    dup_docs = {
        row["doc_id"]
        for row in load(spark, sf, "documents")
        .filter(F.array_contains(F.split(F.lower("text"), "\\s+"), "dup"))
        .select("doc_id")
        .collect()
    }
    n_dup_ranked = sum(1 for row in top if row["doc_id"] in dup_docs)
    expected_dup_in_top = min(len(dup_docs), BM25_TOPK)
    assert n_dup_ranked == expected_dup_in_top, (n_dup_ranked, len(dup_docs))


def test_substring_rewrite_removes_all_but_canonical(spark, tmp_path):
    """The cleaning semantics of Lee et al.: a K-run shared by two docs
    survives ONLY in the canonical (lowest doc_id, pos) occurrence; the
    other doc is re-emitted with the run cut out; unique docs re-emit
    verbatim. Plus oracle parity on the crafted corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.compare import compare_query
    from ocr_spark.functions.dedup import QUERIES, SUBSTR_K

    run = " ".join(f"w{i}" for i in range(SUBSTR_K))  # exactly one K-gram
    rows = [
        {"doc_id": 1, "text": f"alpha beta {run} gamma delta"},
        {"doc_id": 2, "text": f"start {run} middle end tail"},
        {"doc_id": 3, "text": "totally unique words only here now"},
    ]
    d = tmp_path / "sf_rw"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["dedup_substring_rewrite"]
    out = {r["doc_id"]: r for r in spec.fn(spark, str(d)).collect()}

    def md5_of(s):
        return hashlib.md5(s.encode()).hexdigest()

    # doc 1 is canonical: nothing removed
    assert out[1]["removed_occurrences"] == 0
    assert out[1]["clean_md5"] == md5_of(rows[0]["text"].lower())
    # doc 2 loses exactly the K tokens of the run
    assert out[2]["removed_occurrences"] == 1
    assert out[2]["kept_tokens"] == out[2]["n_words"] - SUBSTR_K
    assert out[2]["clean_md5"] == md5_of("start middle end tail")
    # unique doc re-emits verbatim
    assert out[3]["removed_occurrences"] == 0
    assert out[3]["clean_md5"] == md5_of(rows[2]["text"])

    r = compare_query(spark, str(d), "dedup_substring_rewrite", spec)
    assert r["ok"], r["detail"]


def test_media_video_frames_real_and_typed_paths(spark):
    """The video driver gate: the three row shapes are all present —
    multi-frame real decodes at the every-Nth stride, the planted
    non-RIFF payload as a single stand-in row, the planted truncated AVI
    dropped entirely. The hash match against the golden table is
    test_query_matches_oracle[media_video_frames]."""
    from ocr_spark.functions.extractops import QUERIES
    from ocr_spark.functions.golden import VIDEO_EVERY_N

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["media_video_frames"].fn(spark, sf).collect()
    by_ref = {}
    for row in rows:
        by_ref.setdefault(row["media_ref"], []).append(row["frame_idx"])
    assert "vid_bad_trunc" not in by_ref
    assert by_ref["vid_bad_codec"] == [0]
    multi = [v for k, v in by_ref.items() if k.startswith("vid_") and len(v) > 1]
    assert multi, by_ref  # real decodes actually sampled multiple frames
    for idxs in multi:
        assert sorted(idxs) == list(range(0, max(idxs) + 1, VIDEO_EVERY_N))


def test_media_audio_features_typed_paths(spark):
    """The audio driver gate's planted shapes: stereo mono-averages to
    the exact mean amplitude, the zero-frame WAV reports rms 0.0 (never
    NaN), the non-audio payload becomes a typed decode_ok=false row. The
    hash match against the golden table is
    test_query_matches_oracle[media_audio_features]."""
    from ocr_spark.functions.extractops import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {
        x["media_ref"]: x
        for x in QUERIES["media_audio_features"].fn(spark, sf).collect()
    }
    assert rows["aud_empty"]["decode_ok"] and rows["aud_empty"]["rms"] == 0.0
    assert not rows["aud_bad"]["decode_ok"]
    # stereo (8000, -4000) mono-averages to 2000/32768
    assert abs(rows["aud_stereo"]["rms"] - 2000 / 32768.0) < 1e-6
    assert rows["aud_stereo"]["n_samples"] == 600
    assert all(rows[f"aud_{i:04d}"]["decode_ok"] for i in range(16))


def test_pq_encode_oracle_and_self_codes(spark):
    """PQ sanity: every vector emits exactly PQ_M sub-codes, and the
    codebook vectors themselves (vec_id < PQ_KSUB) encode to their own
    code with zero distance in every subspace — the integer-exact
    analogue of 'reconstruction error of a codeword is 0'. The oracle
    hash match is test_query_matches_oracle[embedding_pq_encode]."""
    from ocr_spark.functions import similarity as S

    sf = "/root/testdata/sf0.001"
    rows = S.q_embedding_pq_encode(spark, sf).collect()
    per_vec = {}
    for row in rows:
        per_vec.setdefault(row["vec_id"], []).append(row)
    assert all(len(v) == S.PQ_M for v in per_vec.values())
    for vid in range(S.PQ_KSUB):
        for row in per_vec[vid]:
            assert row["code"] == vid and row["d_q"] == 0, row


def test_adc_oracle_and_recall_positive(spark):
    """ADC over PQ codes: each query gets exactly ADC_TOPK ranked
    neighbors, and the compressed-domain ranking retrieves a nonzero
    fraction of the exact-cosine top-k (PQ on i.i.d. vectors is lossy —
    the gate pins the machinery, bench reports the recall). The oracle
    hash match is test_query_matches_oracle[embedding_ann_adc_trained]."""
    from ocr_spark.functions import similarity as S

    sf = "/root/testdata/sf0.001"
    adc = S.q_embedding_ann_adc_trained(spark, sf).collect()
    per_q = {}
    for row in adc:
        per_q.setdefault(row["query_id"], []).append(row)
    assert all(len(v) == S.ADC_TOPK for v in per_q.values())
    truth = {
        (row["query_id"], row["neighbor_id"])
        for row in S.q_cosine_topk(spark, sf).collect()
        if row["rnk"] <= S.ADC_TOPK
    }
    got = {(row["query_id"], row["neighbor_id"]) for row in adc}
    assert len(got & truth) > 0


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    d = tmp_path / "events_crafted"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), str(d / "events.parquet")
    )
    return str(d)


def test_asof_join_tie_and_no_match_semantics(spark, tmp_path):
    """The as-of join's subtle cases, planted explicitly: a view at the
    click's EXACT timestamp matches (backward-inclusive); two views at
    the same timestamp resolve to the larger event_id; a click before
    any view gets NULL view columns; a later view never matches. Plus
    oracle parity on the same crafted table."""
    from datetime import datetime as DT

    from ocr_spark.functions.relational import QUERIES

    t = lambda s: DT.fromisoformat(s)  # noqa: E731
    rows = [
        # user 1: click at the exact ts of two tied views -> view 12 wins
        dict(event_id=10, ts=t("2024-01-01T10:00:00"), user_id=1,
             event_type="view", value=1.0, props="{}"),
        dict(event_id=12, ts=t("2024-01-01T10:00:00"), user_id=1,
             event_type="view", value=2.0, props="{}"),
        dict(event_id=13, ts=t("2024-01-01T10:00:00"), user_id=1,
             event_type="click", value=0.0, props="{}"),
        # user 2: click BEFORE its only view -> no match
        dict(event_id=20, ts=t("2024-01-01T09:00:00"), user_id=2,
             event_type="click", value=0.0, props="{}"),
        dict(event_id=21, ts=t("2024-01-01T09:30:00"), user_id=2,
             event_type="view", value=3.0, props="{}"),
        # user 2: later click picks that view, microsecond lag exact
        dict(event_id=22, ts=t("2024-01-01T09:30:00.000001"), user_id=2,
             event_type="click", value=0.0, props="{}"),
    ]
    sf = _write_events(tmp_path, rows)
    spec = QUERIES["events_asof_join"]
    got = {r["event_id"]: r for r in spec.fn(spark, sf).collect()}
    assert got[13]["view_event_id"] == 12 and got[13]["lag_us"] == 0
    assert got[20]["view_event_id"] is None and got[20]["lag_us"] is None
    assert got[22]["view_event_id"] == 21 and got[22]["lag_us"] == 1
    r = compare_query(spark, sf, "events_asof_join", spec)
    assert r["ok"], r["detail"]


def test_range_join_window_boundaries(spark, tmp_path):
    """Interval membership is [ts, ts+10min): an event AT the error's
    timestamp and one at +10min-1us are in; one exactly at +10min is
    out — including when the window crosses a bucket boundary (the
    2-bucket explode path). Oracle parity on the same crafted table."""
    from datetime import datetime as DT

    from ocr_spark.functions.relational import QUERIES

    t = lambda s: DT.fromisoformat(s)  # noqa: E731
    rows = [
        # error at 10:05 -> window [10:05, 10:15) crosses the 10:10
        # bucket edge (buckets are 10-min aligned to the epoch)
        dict(event_id=1, ts=t("2024-01-01T10:05:00"), user_id=1,
             event_type="error", value=1.0, props="{}"),
        dict(event_id=2, ts=t("2024-01-01T10:05:00"), user_id=2,
             event_type="view", value=1.0, props="{}"),   # at start: in
        dict(event_id=3, ts=t("2024-01-01T10:14:59.999999"), user_id=3,
             event_type="view", value=1.0, props="{}"),   # last us: in
        dict(event_id=4, ts=t("2024-01-01T10:15:00"), user_id=4,
             event_type="view", value=1.0, props="{}"),   # at end: OUT
        # second error far away so results have 2 rows
        dict(event_id=5, ts=t("2024-02-01T00:00:00"), user_id=5,
             event_type="error", value=1.0, props="{}"),
    ]
    sf = _write_events(tmp_path, rows)
    spec = QUERIES["events_range_join"]
    got = {r["incident_id"]: r for r in spec.fn(spark, sf).collect()}
    assert got[1]["n_events"] == 3  # the error itself + events 2 and 3
    assert got[5]["n_events"] == 1
    r = compare_query(spark, sf, "events_range_join", spec)
    assert r["ok"], r["detail"]


def test_trained_pq_codebooks_deterministic_integer_grid():
    """The per-subspace k-means fit is deterministic (same sample, same
    init, fixed iterations) and lands on the KM_Q integer grid: PQ_M
    books of PQ_KSUB codes of PQ_DSUB BIGINTs, identical across calls
    (the cache is an optimization, not the source of determinism —
    clear it between calls)."""
    from ocr_spark.functions import similarity as S

    sf = "/root/testdata/sf0.001"
    S._PQ_TRAIN_CACHE.clear()
    a = S.train_pq_codebooks(sf)
    S._PQ_TRAIN_CACHE.clear()
    b = S.train_pq_codebooks(sf)
    assert a == b
    assert len(a) == S.PQ_M
    assert all(len(book) == S.PQ_KSUB for book in a)
    assert all(len(c) == S.PQ_DSUB for book in a for c in book)
    assert all(isinstance(v, int) for book in a for c in book for v in c)
    # the fit actually moved off the first-KSUB stand-in codebooks
    import os

    from ocr_spark.functions.similarity import _bounded_lowest_sample

    _, emb, _ = _bounded_lowest_sample(
        os.path.join(sf, "embeddings.parquet"), S.PQ_KSUB
    )
    standin = [
        [
            [int(round(float(v) * S.KM_Q)) for v in row[m * S.PQ_DSUB:(m + 1) * S.PQ_DSUB]]
            for row in emb
        ]
        for m in range(S.PQ_M)
    ]
    assert a != standin


def test_hll_raw_estimate_branch_on_high_cardinality(spark, tmp_path):
    """The fixture events tables land in the linear-counting branch
    (distinct users << 640), so the raw alpha*m^2/Z estimate path is
    only exercised here: 5,000 distinct users saturate the registers
    and force the ELSE branch in both engines — proving the integer
    indicator sum, the int64->double cast, and the round(_, 3) hash
    agree where the lookup table does NOT shield them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.relational import QUERIES

    rows = [
        {"event_type": t, "user_id": u}
        for t in ("view", "click")
        for u in range(5000)
    ]
    d = tmp_path / "sf_hll"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "events.parquet"))

    spec = QUERIES["events_distinct_hll"]
    out = {
        r["event_type"]: r
        for r in spec.fn(spark, str(d)).collect()
    }
    # registers saturate: few-to-no zeros, estimate within HLL's ~1.04/
    # sqrt(256) relative error envelope (generous 3-sigma bound)
    for t in ("view", "click"):
        r = out[t]
        assert r["n_exact"] == 5000
        assert r["n_zero_registers"] < 10, r
        assert abs(r["hll_estimate"] - 5000) / 5000 < 0.25, r
    r = compare_query(spark, str(d), "events_distinct_hll", spec)
    assert r["ok"], r["detail"]


def test_funnel_tie_and_order_semantics(spark, tmp_path):
    """Crafted funnel edges the fixture data cannot hit: a click at the
    SAME microsecond as the first view must NOT qualify (strictly-after
    rule), a purchase before any click must not count, and out-of-order
    stage events resolve to the first qualifying occurrence — with
    oracle parity on the same crafted table."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.relational import QUERIES

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, u, t, typ):
        return {
            "event_id": eid,
            "ts": t,
            "user_id": u,
            "event_type": typ,
            "value": 1.0,
            "props": "{}",
        }

    s = dt.timedelta(seconds=1)
    rows = [
        # u1: view@0, click@0 (tie -> NOT qualified), click@2, purchase@3
        ev(1, 1, t0, "view"),
        ev(2, 1, t0, "click"),
        ev(3, 1, t0 + 2 * s, "click"),
        ev(4, 1, t0 + 3 * s, "purchase"),
        # u2: purchase@0 then view@1 -> stage 1 only
        ev(5, 2, t0, "purchase"),
        ev(6, 2, t0 + s, "view"),
        # u3: click-only -> stage 0
        ev(7, 3, t0, "click"),
        # u4: view@0, purchase@1, click@2, purchase@3 -> first
        # qualifying purchase is @3 (the @1 purchase precedes any click)
        ev(8, 4, t0, "view"),
        ev(9, 4, t0 + s, "purchase"),
        ev(10, 4, t0 + 2 * s, "click"),
        ev(11, 4, t0 + 3 * s, "purchase"),
    ]
    d = tmp_path / "sf_funnel"
    d.mkdir()
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), str(d / "events.parquet")
    )

    spec = QUERIES["events_funnel"]
    got = {r["user_id"]: r for r in spec.fn(spark, str(d)).collect()}
    us0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert got[1]["stage"] == 3
    assert got[1]["first_click_us"] == us0 + 2_000_000  # tie excluded
    assert got[1]["first_purchase_us"] == us0 + 3_000_000
    assert got[2]["stage"] == 1 and got[2]["first_click_us"] is None
    assert got[3]["stage"] == 0 and got[3]["first_view_us"] is None
    assert got[4]["stage"] == 3
    assert got[4]["first_purchase_us"] == us0 + 3_000_000
    r = compare_query(spark, str(d), "events_funnel", spec)
    assert r["ok"], r["detail"]


def test_cms_overcount_is_real_under_forced_collisions(spark, tmp_path):
    """CMS guarantee surfaces: est >= exact always, and overcount > 0
    when collisions are forced. The filler terms are SEARCHED with the
    same hashlib twin the probe literals use — one filler per hash row
    that collides with the absent probe term in that row — so the
    absent term's four cells are all non-zero and its estimate is pure
    collision mass. Oracle parity on the same crafted corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.textops import (
        CMS_D,
        CMS_W,
        QUERIES,
    )

    target = "zzzabsent"

    def col_of(i, term):
        return int(
            hashlib.md5(f"cms{i}:{term}".encode()).hexdigest()[:15], 16
        ) % CMS_W

    fillers = []
    for i in range(CMS_D):
        cand = 0
        while True:
            t = f"fill{cand}"
            if t != target and col_of(i, t) == col_of(i, target):
                fillers.append(t)
                break
            cand += 1
    rows = [{"doc_id": 0, "text": " ".join(fillers)}]
    d = tmp_path / "sf_cms"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))

    spec = QUERIES["text_heavy_hitters_cms"]
    out = {r["term"]: r for r in spec.fn(spark, str(d)).collect()}
    for r in out.values():
        assert r["est_count"] >= r["exact_count"], r  # CMS never undercounts
    assert out[target]["exact_count"] == 0
    assert out[target]["overcount"] >= 1, out[target]
    r = compare_query(spark, str(d), "text_heavy_hitters_cms", spec)
    assert r["ok"], r["detail"]


def test_quantile_sketch_error_bounded_by_bin_width(spark):
    """The histogram estimate must land in the same bin as the exact
    discrete percentile — |est - exact| <= half a bin width — at both
    fixture scales."""
    from ocr_spark.functions.relational import QSK_BIN_MILLIS, QUERIES

    spec = QUERIES["events_quantile_sketch"]
    half = QSK_BIN_MILLIS / 1000.0 / 2
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for r in spec.fn(spark, sf).collect():
            exact = r["exact_value_milli"] / 1000.0
            assert abs(r["est_value"] - exact) <= half, (sf, dict(r.asDict()))


def test_bloom_decontaminate_never_undercounts_and_false_positives_exist(
    spark, tmp_path
):
    """Bloom guarantees, both directions: (a) on the fixture corpus
    every exact benchmark-gram hit is also a bloom hit (no false
    negatives vs the join operator); (b) on a crafted corpus whose
    benchmark doc SATURATES the filter (~40k distinct grams against
    2^15 bits), train docs with ZERO exact overlap still bloom-hit —
    the false-positive surface is real and the oracle agrees on it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.textops import QUERIES

    sf = "/root/testdata/sf0.001"
    bloom = {
        r["doc_id"]: r["bloom_hits"]
        for r in QUERIES["decontaminate_bloom"].fn(spark, sf).collect()
    }
    exact = {
        r["doc_id"]: r["hit_grams"]
        for r in QUERIES["decontaminate_ngram_overlap"].fn(spark, sf).collect()
    }
    for d, hits in exact.items():
        assert bloom.get(d, 0) >= hits, (d, hits, bloom.get(d))

    # crafted saturation: benchmark doc 0 carries 40k distinct tokens,
    # train doc 1 shares NONE of them
    bench_text = " ".join(f"b{i}" for i in range(40_000))
    train_text = " ".join(f"t{i}" for i in range(50))
    rows = [
        {"doc_id": 0, "text": bench_text},
        {"doc_id": 1, "text": train_text},
    ]
    d = tmp_path / "sf_bloom"
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in QUERIES["decontaminate_bloom"].fn(spark, str(d)).collect()
    }
    assert out[1]["n_grams"] == 48
    assert out[1]["bloom_hits"] > 0, out[1]  # pure false-positive mass
    r = compare_query(
        spark, str(d), "decontaminate_bloom", QUERIES["decontaminate_bloom"]
    )
    assert r["ok"], r["detail"]


def test_scd2_upsert_invariants(spark):
    """MERGE semantics the hash gate cannot see directly: exactly one
    current row per key, closed rows are exactly the changed keys'
    version-0 rows, no-op batch rows (every 21st key arrives unchanged)
    create NO new version, and inserted keys carry no version-0 row."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.relational import (
        QUERIES,
        SCD2_NEW_KEY_OFFSET,
        SCD2_UPDATE_MOD,
    )

    df = QUERIES["dim_scd2_upsert"].fn(spark, "/root/testdata/sf0.001")
    per_key = df.groupBy("custkey").agg(
        F.sum("is_current").alias("cur"),
        F.max("version").alias("mx"),
        F.count("*").alias("n"),
    )
    assert per_key.filter(F.col("cur") != 1).count() == 0
    # no-op keys: divisible by 3*MOD (same values resent) -> single
    # version-0 current row, no version 1
    noop = per_key.filter(
        (F.col("custkey") % (3 * SCD2_UPDATE_MOD) == 0)
        & (F.col("custkey") < SCD2_NEW_KEY_OFFSET)
    )
    assert noop.count() > 0  # the fixture actually has no-op keys
    assert noop.filter(F.col("mx") != 0).count() == 0
    # changed keys: exactly two rows, version-0 closed + version-1 current
    changed = df.filter(
        (F.col("version") == 1)
        & (F.col("custkey") < SCD2_NEW_KEY_OFFSET)
    ).select("custkey")
    two = per_key.join(changed, "custkey")
    assert two.filter((F.col("n") != 2) | (F.col("mx") != 1)).count() == 0
    # inserted keys: single version-1 row, never a version 0
    ins = per_key.filter(F.col("custkey") >= SCD2_NEW_KEY_OFFSET)
    assert ins.count() > 0
    assert ins.filter((F.col("n") != 1) | (F.col("mx") != 1)).count() == 0


def test_distinct_users_skewsafe_null_users(spark, tmp_path):
    """NULL user_ids must not count as a distinct user (SQL's
    COUNT(DISTINCT) excludes NULLs), and an event_type whose users are
    ALL NULL must still appear with n_users = 0 — the crafted table
    plants both cases, then checks oracle parity the driver's way."""
    from datetime import datetime as DT

    from ocr_spark.functions.relational import QUERIES

    t = DT.fromisoformat
    rows = [
        # "view": users 1, 1, 2 and one NULL -> 2 distinct
        dict(event_id=1, ts=t("2024-01-01T10:00:00"), user_id=1,
             event_type="view", value=1.0, props="{}"),
        dict(event_id=2, ts=t("2024-01-01T10:01:00"), user_id=1,
             event_type="view", value=1.0, props="{}"),
        dict(event_id=3, ts=t("2024-01-01T10:02:00"), user_id=2,
             event_type="view", value=1.0, props="{}"),
        dict(event_id=4, ts=t("2024-01-01T10:03:00"), user_id=None,
             event_type="view", value=1.0, props="{}"),
        # "ghost": ONLY NULL users -> group present, 0 distinct
        dict(event_id=5, ts=t("2024-01-01T10:04:00"), user_id=None,
             event_type="ghost", value=1.0, props="{}"),
        dict(event_id=6, ts=t("2024-01-01T10:05:00"), user_id=None,
             event_type="ghost", value=1.0, props="{}"),
    ]
    sf = _write_events(tmp_path, rows)
    spec = QUERIES["events_distinct_users_skewsafe"]
    got = {r["event_type"]: r["n_users"] for r in spec.fn(spark, sf).collect()}
    assert got == {"view": 2, "ghost": 0}
    r = compare_query(spark, sf, "events_distinct_users_skewsafe", spec)
    assert r["ok"], r["detail"]


def test_dedup_semantic_durable_checkpoint(spark, tmp_path):
    """checkpoint_dir= swaps the member frame's localCheckpoint for a
    durable spark.checkpoint (the production executor-loss posture):
    same keep-list, checkpoint files on disk."""
    import os

    from ocr_spark.functions.dedup import q_dedup_semantic

    ckpt_dir = str(tmp_path / "sem_ckpt")
    base = {tuple(r) for r in q_dedup_semantic(spark, SF_DIR).collect()}
    durable = {
        tuple(r)
        for r in q_dedup_semantic(
            spark, SF_DIR, checkpoint_dir=ckpt_dir
        ).collect()
    }
    assert base == durable
    found = [f for _, _, fs in os.walk(ckpt_dir) for f in fs]
    assert found, "durable checkpoint wrote nothing"
