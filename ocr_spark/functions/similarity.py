"""Similarity search over the `embeddings` table (vec_id, embedding
float[64], label): brute-force cosine top-k as the exactness baseline,
a random-hyperplane LSH-bucketed variant, and an IVF inverted-list
variant as the scale paths.

Public-literature basis: random-hyperplane LSH for cosine (Charikar,
STOC 2002); IVF coarse quantization + inverted lists as in IVFADC
(Jégou/Douze/Schmid, "Product quantization for nearest neighbor
search", TPAMI 2011 — here without the PQ refinement, exact rerank
instead).

Cosine is computed as an explicit left fold (zip -> multiply -> add) in
BOTH engines so the floating-point operation sequence is identical and
round(x, 6) hashes equal. Hyperplanes are md5-derived ±1 vectors
generated in Python and inlined as literals into both the Spark plan
and the oracle SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions import QuerySpec, load

DIM = 64
N_PLANES = 8
TOPK = 10
LSH_TOPK = 5
QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 -> query vector


def hyperplanes() -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5(plane:dim)."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — same op order as the SQL oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def _cos(a: Column, b: Column) -> Column:
    denom = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    # zero-norm guard: Spark(ANSI) double /0 yields Infinity but DuckDB
    # yields NULL — emit NULL in both engines so hashes agree
    return F.round(F.when(denom > 0, _dot(a, b) / denom), 6)


def _norm_col(vec: Column) -> Column:
    """sqrt(dot(v, v)) — the _cos denominator factor, hoisted to a
    once-per-row projection. The per-pair scoring joins below would
    otherwise re-fold each side's self-dot once per PAIR (3 folds per
    pair instead of 1), which dominates every cosine confirm: measured
    3x on the sf0.1 embedding-dedup suite. Bit-identical to inlining —
    same fold, same IEEE op order — so the oracles are unchanged."""
    return F.sqrt(_dot(vec, vec))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """_cos with precomputed row norms (see _norm_col)."""
    denom = na * nb
    return F.round(F.when(denom > 0, _dot(a, b) / denom), 6)


def _cos_sql(a: str, b: str) -> str:
    denom = f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    return (
        f"round(CASE WHEN {denom} > 0 THEN {_dot_sql(a, b)} / {denom} END, 6)"
    )


# --------------------------------------------------------------------------
# brute-force cosine top-k
# --------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("en")
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("en").alias("qn"),
    )
    # the query side is tiny (n/QUERY_MOD rows) — broadcast it so the scan
    # of the full embedding table never shuffles
    joined = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("en")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )


SQL_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q.qe', 'e.embedding')} AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= {TOPK}
"""


# --------------------------------------------------------------------------
# LSH buckets + bucketed ANN
# --------------------------------------------------------------------------


def _bucket_col(planes: list[list[float]] | None = None) -> Column:
    if planes is None:
        planes = hyperplanes()
    out = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(F.col("embedding"), lit_plane) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        out = out + bit
    return out


def _bucket_sql(emb: str, planes: list[list[float]] | None = None) -> str:
    if planes is None:
        planes = hyperplanes()
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        dot = (
            f"list_reduce(list_transform(range(1, {DIM} + 1), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", _bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


SQL_LSH_BUCKETS = f"""
SELECT {_bucket_sql('embedding')} AS bucket,
       count(*) AS n_vecs,
       min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _bucket_col().alias("bucket"),
        _norm_col(F.col("embedding")).alias("en"),
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
        F.col("en").alias("qn"),
    )
    # candidates co-located by bucket: at scale this is a bucket-key join,
    # not a cross join — the whole point of the LSH path
    cand = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("en")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= LSH_TOPK)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )


SQL_ANN_LSH = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket AS qb
  FROM b WHERE vec_id % {QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q.qe', 'e.embedding')} AS cos_sim
  FROM q JOIN b e ON e.bucket = q.qb AND e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= {LSH_TOPK}
"""


# --------------------------------------------------------------------------
# IVF-style ANN: trained coarse quantizer + inverted lists + nprobe
# --------------------------------------------------------------------------

# Defaults chosen from the trained-IVF recall-cost curve at sf0.01
# (BENCH/BASELINE.md; VERDICT r3 #5): recall@5 by (K, nprobe) — 16/8:
# 0.86 probing 1/2 of lists; 32/8: 0.76 probing 1/4; 64/8: 0.62;
# 64/16: 0.74 probing 1/4 but with 2x the assignment dots. 32/8 clears
# the >=0.7 bar while scanning the smallest corpus fraction — note the
# fixture embeddings are i.i.d. random (the adversarial case for any ANN
# index); clustered real embeddings give higher recall at the same probe
# fraction. At sf0.1 the same curve sits lower (32/8: 0.65, 16/8:
# 0.84): with i.i.d. vectors recall tracks the probed-list FRACTION, so
# a 5x bigger corpus at fixed K spreads true neighbors over more lists.
# On real (clustered) embeddings K grows with corpus size — sqrt(N) is
# the usual rule — which holds the probe fraction and recall steady; the
# constants here stay fixed so the oracle literals are reproducible.
IVF_K = 32  # coarse centroid count
IVF_NPROBE = 8
IVF_TOPK = 5


def _norm(vec: list[float]) -> float:
    """sqrt of the left-fold self-dot in IEEE doubles — bit-identical to
    sqrt(_dot(v, v)) evaluated by Spark/DuckDB on the same values."""
    import math

    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def ivf_assign_col(centroids: list[tuple[int, list[float]]], emb_col: str) -> Column:
    """Map-side inverted-list assignment: nearest of K literal centroids
    as a single projection expression — no join, no window, no Exchange
    of the embedding corpus (VERDICT r1 #4). Semantics match the oracle
    window `ORDER BY csim DESC (NULLS LAST), cid ASC` exactly: strict
    `>` keeps the lowest cid on ties, non-null beats null, and the
    all-null case falls back to the first (lowest-cid) centroid.

    Cost discipline: ONE self-dot per row (the caller materializes the
    row norm in a separate projection — see ivf_lists — so it is not
    re-inlined per centroid) + one dot per centroid; centroid norms are
    Python-precomputed doubles (same left-fold order, so the csim values
    stay bit-identical to the oracle's sqrt(dot(c,c)))."""
    cent_norms = [(int(cid), _norm(ce)) for cid, ce in centroids]
    first_cid = cent_norms[0][0]

    def best_cid(na: Column) -> Column:
        entries = F.array(
            *[
                F.struct(
                    F.round(
                        F.when(
                            (na * F.lit(nc)) > 0,
                            _dot(
                                F.col(emb_col),
                                F.array(*[F.lit(float(v)) for v in ce]),
                            )
                            / (na * F.lit(nc)),
                        ),
                        6,
                    ).alias("csim"),
                    F.lit(cid).alias("cid"),
                )
                for (cid, ce), (_, nc) in zip(centroids, cent_norms)
            ]
        )
        # single fold over the array: entries is evaluated once; a null
        # acc.cid marks "no baseline yet" so element 1 seeds the fold
        init = F.struct(
            F.lit(None).cast("double").alias("csim"),
            F.lit(None).cast("int").alias("cid"),
        )
        best = F.aggregate(
            entries,
            init,
            lambda acc, e: F.when(
                acc["cid"].isNull()
                | (
                    e["csim"].isNotNull()
                    & (acc["csim"].isNull() | (e["csim"] > acc["csim"]))
                ),
                e,
            ).otherwise(acc),
        )
        return F.coalesce(best["cid"], F.lit(first_cid))

    return best_cid(F.col("_row_norm"))


def ivf_lists(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(cid, vec_id, embedding) inverted lists via map-side assignment.

    Two-step projection on purpose: `_row_norm` referenced 16 times in
    the assignment expression is non-cheap, so CollapseProject keeps it
    materialized — one self-dot per row instead of one per centroid."""
    with_norm = emb.withColumn(
        "_row_norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    return with_norm.select(
        ivf_assign_col(centroids, "embedding").alias("cid"),
        "vec_id",
        "embedding",
        # already-materialized row norm rides along so the exact rerank
        # folds 1 dot per candidate instead of 3 (see _norm_col)
        F.col("_row_norm").alias("en"),
    )


def _ivf_search(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Shared IVF search body: map-side inverted-list assignment over
    literal centroids (ivf_lists — Exchange-free, plan-test asserted),
    query-side probe of IVF_NPROBE nearest lists via a broadcast
    centroid table, exact rerank of only the probed candidates. The
    broadcast centroid arrays are doubles: trained centroids are 6-dp
    doubles, which float32 cannot hold."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    cent = F.broadcast(
        spark.createDataFrame(
            [(cid, ce) for cid, ce in centroids], "cid int, ce array<double>"
        )
    )

    def assign(df, id_col, emb_col, n_keep):
        # query-side probe: the window shuffles only the (tiny) query set
        scored = df.join(cent).select(
            id_col,
            "cid",
            _cos(F.col(emb_col), F.col("ce")).alias("csim"),
        )
        w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cid"))
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n_keep)
            .select(id_col, "cid", "crank")
        )

    lists = ivf_lists(emb, centroids)
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm_col(F.col("embedding")).alias("qn"),
    )
    probes = assign(
        q.select(F.col("query_id"), F.col("qe").alias("embedding")),
        "query_id",
        "embedding",
        IVF_NPROBE,
    )
    cand = (
        probes.join(lists, "cid")
        .join(q, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("en")
        ).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= IVF_TOPK)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )


# --------------------------------------------------------------------------
# trained IVF: deterministic spherical k-means quantizer (VERDICT r2 #6)
# --------------------------------------------------------------------------

IVF_TRAIN_SAMPLE = 4096  # driver-side fit on at most this many vectors
IVF_TRAIN_ITERS = 10

_CENTROID_CACHE: dict[str, list[tuple[int, list[float]]]] = {}


TRAIN_BATCH_ROWS = 4096  # streaming read granularity of the fit sample


def _bounded_lowest_sample(
    path: str, n: int, batch_rows: int = TRAIN_BATCH_ROWS
):
    """The `n` lowest-vec_id rows of an embeddings parquet file, read as
    a STREAM of `batch_rows`-row record batches with an incremental
    stable top-n selection — the driver never materializes more than
    n + batch_rows rows at once, no matter how large the table is
    (VERDICT r3 #1: the previous full-table `to_pylist()` was the one
    remaining driver-OOM path at the 100 TB design point).

    Equivalent to `argsort(vid, kind="stable")[:n]` over the whole
    table: a row in the global lowest-n is in the lowest-n of every
    prefix that contains it, so it is never dropped; concatenating
    survivors (earlier rows first) before each stable argsort preserves
    the original tie order.

    Returns (vec_ids, float64 embeddings, peak_rows_held) — peak is
    exposed so tests can assert the bound."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    kept_vid = kept_emb = None
    peak = 0
    for batch in pf.iter_batches(
        batch_size=batch_rows, columns=["vec_id", "embedding"]
    ):
        bvid = np.asarray(batch.column("vec_id").to_pylist())
        bemb = np.asarray(batch.column("embedding").to_pylist(), dtype=np.float64)
        if kept_vid is not None:
            bvid = np.concatenate([kept_vid, bvid])
            bemb = np.concatenate([kept_emb, bemb])
        peak = max(peak, len(bvid))
        order = np.argsort(bvid, kind="stable")[:n]
        kept_vid, kept_emb = bvid[order], bemb[order]
    return kept_vid, kept_emb, peak


def train_centroids(sf_dir: str) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means (Lloyd's with cosine assignment)
    over a bounded, order-fixed sample of the embeddings table.

    Scale posture: this is the driver-side quantizer fit over at most
    IVF_TRAIN_SAMPLE vectors. The read is BOUNDED BY CONSTRUCTION
    (_bounded_lowest_sample streams record batches, holding at most
    sample + one batch in memory). At real scale the quantizer is a
    trained artifact the driver loads (or a k-means|| job run once);
    the corpus-side plan is unchanged either way — literal-inlined
    map-side assignment, no Exchange.

    Determinism: sample = lowest-vec_id rows, init = evenly spaced
    sample rows, fixed iteration count, float64 throughout, centroids
    rounded to 6 dp so the literals inlined into the Spark plan and the
    DuckDB VALUES list are the same doubles."""
    cached = _CENTROID_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    import os

    import numpy as np

    _, emb, _ = _bounded_lowest_sample(
        os.path.join(sf_dir, "embeddings.parquet"), IVF_TRAIN_SAMPLE
    )
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    unit = np.divide(emb, norms, out=np.zeros_like(emb), where=norms > 0)
    init_idx = np.round(np.linspace(0, len(unit) - 1, IVF_K)).astype(int)
    cent = unit[init_idx].copy()
    for _ in range(IVF_TRAIN_ITERS):
        assign = (unit @ cent.T).argmax(axis=1)  # ties -> lowest cid
        for ci in range(IVF_K):
            members = unit[assign == ci]
            if len(members):
                v = members.mean(axis=0)
                n = float(np.linalg.norm(v))
                if n > 0:
                    cent[ci] = v / n
            # empty cluster: keep the previous centroid (deterministic)
    out = [
        (ci, [float(round(float(v), 6)) for v in cent[ci]]) for ci in range(IVF_K)
    ]
    _CENTROID_CACHE[sf_dir] = out
    return out


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with k-means-trained centroids: the coarse quantizer
    probes the corpus's inverted lists and only the probed candidates
    are exact-reranked. At scale the list id is the partition key: the
    probe is a centroid-key join, never a corpus scan. The trained
    centroids beat the first-K vectors of the table as a quantizer on
    list balance and recall (BENCH/BASELINE.md "Dominated ANN variants";
    bench.py reports recall@k vs embedding_cosine_topk)."""
    return _ivf_search(spark, sf_dir, train_centroids(sf_dir))


def sql_ann_ivf_trained(sf_dir: str) -> str:
    """Oracle SQL generated from the SAME trained-centroid constants as
    the Spark plan: the quantizer is data-dependent, so the SQL is a
    function of sf_dir (QuerySpec.sql callable form) — the driver
    resolves it at its compare scale, tests at theirs."""
    rows = ", ".join(
        "({}, [{}])".format(cid, ", ".join(repr(v) for v in ce))
        for cid, ce in train_centroids(sf_dir)
    )
    return f"""
WITH cent AS (
  SELECT cid, ce FROM (VALUES {rows}) v(cid, ce)
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.embedding', 'c.ce')} DESC, c.cid) AS crank
    FROM embeddings e, cent c
  ) WHERE crank = 1
), lists AS (
  SELECT a.cid, e.vec_id, e.embedding FROM assign a JOIN embeddings e USING (vec_id)
), q AS (
  SELECT vec_id AS query_id, embedding AS qe
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qe', 'c.ce')} DESC, c.cid) AS crank
    FROM q, cent c
  ) WHERE crank <= {IVF_NPROBE}
), cand AS (
  SELECT DISTINCT p.query_id, l.vec_id AS neighbor_id
  FROM probes p JOIN lists l USING (cid)
  WHERE l.vec_id != p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {_cos_sql('q.qe', 'e.embedding')} AS cos_sim
  FROM cand c JOIN q USING (query_id) JOIN embeddings e ON e.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= {IVF_TOPK}
"""


# --------------------------------------------------------------------------
# distributed quantizer training: k-means over the cluster, not the driver
# --------------------------------------------------------------------------

# train_centroids (above) fits on a BOUNDED driver-side sample — the
# honest small-scale stand-in for "the quantizer is a trained artifact".
# This operator is the artifact's TRAINING JOB itself, restated as the
# k-means|| -style Spark loop a 100 TB corpus actually runs: every
# iteration is (a) the Exchange-free map-side assignment (ivf_assign_col
# — the same expression the search plan uses) and (b) ONE hash-aggregate
# shuffle of integer-quantized component sums, so the per-iteration
# shuffle payload is K x (DIM+1) BIGINTs per map partition and the
# driver only ever holds K rows of exact integers. Quantization makes
# the update ORDER-INDEPENDENT and engine-exact: SUM(BIGINT) is
# associative where SUM(DOUBLE) is not, so the Spark aggregation, the
# Python centroid update, and the DuckDB oracle's unrolled-CTE replay
# produce bit-identical centroids at every iteration — the oracle
# re-derives the whole training run from the table alone (no literals).
#
# Overflow headroom: |component| < 1 => |eq| < KM_Q = 1e6; a single
# list absorbing ALL of a 10^12-row corpus sums to < 1e18 < int64 max.
KM_K = 16  # trainer list count (distinct from IVF_K so both are exercised)
KM_ITERS = 4
KM_Q = 1000000.0  # component quantum for the exact update shuffle


def _km_eq_col() -> Column:
    """Quantized embedding: round(x * KM_Q) as BIGINT per component."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(KM_Q)).cast("long"),
    )


def _km_update(
    prev: list[tuple[int, list[float]]], rows
) -> list[tuple[int, list[float]]]:
    """One exact centroid update from collected (cid, n, s0..s63) integer
    sums: mean_i = (s_i / KM_Q) / n, then spherical normalization — every
    float op in the SAME sequence as the oracle's list_transform /
    list_reduce chain, so the doubles match bit-for-bit. Empty or
    zero-norm lists keep the previous centroid (deterministic)."""
    import math

    by_cid = {int(r["cid"]): r for r in rows}
    out = []
    for cid, ce in prev:
        r = by_cid.get(cid)
        if r is None or r["n"] == 0:
            out.append((cid, ce))
            continue
        n = float(r["n"])
        m = [(float(r[f"s{i}"]) / KM_Q) / n for i in range(DIM)]
        acc = 0.0
        for v in m:
            acc += v * v
        norm = math.sqrt(acc)
        out.append((cid, [v / norm for v in m]) if norm > 0 else (cid, ce))
    return out


def q_ivf_train_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means: KM_ITERS Lloyd's iterations where
    assignment is the map-side literal-centroid expression and the update
    is one integer-exact shuffle; returns the trained quantizer exploded
    to (cid, dim, c_q, n_members) with c_q = round(component * KM_Q) and
    n_members from a final assignment pass (empty lists report 0)."""
    emb = load(spark, sf_dir, "embeddings")
    cent = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < KM_K)
        .select("vec_id", "embedding")
        .collect()
    )
    for _ in range(KM_ITERS):
        sums = (
            ivf_lists(emb, cent)
            .select("cid", _km_eq_col().alias("eq"))
            .groupBy("cid")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("eq")[i]).alias(f"s{i}") for i in range(DIM)],
            )
            .collect()
        )
        cent = _km_update(cent, sums)
    counts = ivf_lists(emb, cent).groupBy("cid").agg(
        F.count("*").alias("n_members")
    )
    cent_rows = spark.createDataFrame(
        [(cid, i, ce[i]) for cid, ce in cent for i in range(DIM)],
        "cid int, dim int, c double",
    )
    return (
        cent_rows.join(F.broadcast(counts), "cid", "left")
        .select(
            "cid",
            "dim",
            F.round(F.col("c") * F.lit(KM_Q)).cast("long").alias("c_q"),
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias(
                "n_members"
            ),
        )
    )


def _km_norm_sql(m: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({m}, x -> x * x), (x, y) -> x + y))"
    )


def _km_assign_cte(tag: str, cent: str) -> str:
    """One assignment CTE: nearest-of-K by the SAME rounded cosine and
    tie rule as ivf_assign_col (csim DESC, cid ASC, all-null -> lowest)."""
    return f"""assign{tag} AS (
  SELECT vec_id, eq, cid FROM (
    SELECT b.vec_id, b.eq, c.cid,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_cos_sql('b.embedding', 'c.ce')} DESC, c.cid) AS rk
    FROM kmbase b, {cent} c
  ) WHERE rk = 1
)"""


def _sql_ivf_train_kmeans() -> str:
    """The full training replay as one chain of unrolled CTEs — pure SQL
    over the embeddings table, zero data-derived literals."""
    parts = [
        f"""kmbase AS (
  SELECT vec_id,
         embedding,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS eq
  FROM embeddings
)""",
        f"""cent0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings WHERE vec_id < {KM_K}
)""",
    ]
    for t in range(KM_ITERS):
        parts.append(_km_assign_cte(str(t), f"cent{t}"))
        parts.append(
            f"""sums{t} AS (
  SELECT a.cid, r.i AS i, CAST(sum(a.eq[r.i]) AS BIGINT) AS s, count(*) AS n
  FROM assign{t} a, range(1, {DIM} + 1) r(i)
  GROUP BY a.cid, r.i
)"""
        )
        parts.append(
            f"""upd{t} AS (
  SELECT cid, list((CAST(s AS DOUBLE) / {KM_Q}) / n ORDER BY i) AS m
  FROM sums{t} GROUP BY cid
)"""
        )
        parts.append(
            f"""cent{t + 1} AS (
  SELECT p.cid,
         CASE WHEN u.cid IS NOT NULL AND {_km_norm_sql('u.m')} > 0
              THEN list_transform(u.m, x -> x / {_km_norm_sql('u.m')})
              ELSE p.ce END AS ce
  FROM cent{t} p LEFT JOIN upd{t} u USING (cid)
)"""
        )
    parts.append(_km_assign_cte("F", f"cent{KM_ITERS}"))
    parts.append(
        "fcnt AS (SELECT cid, count(*) AS n FROM assignF GROUP BY cid)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c.cid AS cid, r.i - 1 AS dim,
       CAST(round(c.ce[r.i] * {KM_Q}) AS BIGINT) AS c_q,
       CAST(COALESCE(f.n, 0) AS BIGINT) AS n_members
FROM cent{KM_ITERS} c LEFT JOIN fcnt f USING (cid), range(1, {DIM} + 1) r(i)
"""
    )


SQL_IVF_TRAIN_KMEANS = _sql_ivf_train_kmeans()


# --------------------------------------------------------------------------
# product quantization (the PQ half of IVFADC — Jégou et al., TPAMI 2011)
# --------------------------------------------------------------------------

# Compresses every embedding to PQ_M sub-codes: dimension blocks of
# PQ_DSUB assign independently to a PQ_KSUB-entry codebook per
# subspace. 100 TB shape: the whole encode is ONE map-side projection
# over the embeddings scan — codebooks are literal constants, no join,
# no Window, no Exchange (plan-test) — and the output is (vec_id, m,
# code, d_q), 64 bits of code per vector where the raw embedding is
# 2 Kbit. Exactness discipline: subvectors quantize to BIGINT
# (round(x * KM_Q)) and the assignment metric is INTEGER squared L2, so
# Spark and the oracle compare identical integers — no float parity
# surface at all. Codebooks here are the deterministic first-KSUB
# subvectors, so the oracle derives them from the table alone; the
# ANN search uses trained codebooks (train_pq_codebooks), which change
# recall, not the plan.
PQ_M = 8  # subspaces
PQ_DSUB = DIM // PQ_M  # dims per subspace
PQ_KSUB = 16  # codes per subspace


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[int]]]:
    """codebooks[m][code] = quantized subvector (list of PQ_DSUB ints)
    from the lowest-PQ_KSUB vec_ids — KSUB tiny rows collected, a
    bounded driver collect."""
    emb = load(spark, sf_dir, "embeddings")
    rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < PQ_KSUB)
        .select("vec_id", "embedding")
        .collect()
    )
    books = []
    for m in range(PQ_M):
        lo = m * PQ_DSUB
        books.append(
            [
                [int(round(v * KM_Q)) for v in vec[lo : lo + PQ_DSUB]]
                for _, vec in rows
            ]
        )
    return books


def _pq_encode_with(emb: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """(vec_id, m, code, d_q) PQ codes against the given codebooks —
    one map-side projection, codebooks inlined as literal arrays."""
    eq = _km_eq_col().alias("eq")

    def per_m_best(m: int):
        # codebook as ONE literal array<array<long>> walked by transform
        # lambdas: janino compiles a loop, not PQ_KSUB x PQ_DSUB unrolled
        # expressions — the unrolled form blew whole-stage codegen's
        # 64 KB method limit and silently fell back to interpreted
        # projection for the entire encode stage. Integer math is
        # unchanged: (x-y)*(x-y) summed as BIGINT equals the former
        # double-pow-then-cast exactly (values < 2^53), and array_min
        # over (d_q, code) structs keeps the same tie rule.
        book = F.array(
            *[
                F.array(*[F.lit(v) for v in books[m][c]])
                for c in range(PQ_KSUB)
            ]
        )
        sub = F.slice(F.col("eq"), m * PQ_DSUB + 1, PQ_DSUB)
        entries = F.transform(
            book,
            lambda cv, c: F.struct(
                F.aggregate(
                    F.zip_with(sub, cv, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("d_q"),
                c.cast("int").alias("code"),
            ),
        )
        return F.array_min(entries)

    per_m = [per_m_best(m) for m in range(PQ_M)]
    return (
        emb.select("vec_id", eq)
        .select("vec_id", F.posexplode(F.array(*per_m)).alias("m", "best"))
        .select(
            "vec_id",
            F.col("m").cast("int").alias("m"),
            F.col("best.code").alias("code"),
            F.col("best.d_q").alias("d_q"),
        )
    )


def q_embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _pq_encode_with(emb, _pq_codebooks(spark, sf_dir))


SQL_EMBEDDING_PQ = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS eq
  FROM embeddings
), cb AS (
  SELECT vec_id AS code,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS cq
  FROM embeddings WHERE vec_id < {PQ_KSUB}
), scored AS (
  SELECT b.vec_id, m.m, c.code,
         list_reduce(
           list_transform(range(1, {PQ_DSUB} + 1),
                          k -> (b.eq[m.m * {PQ_DSUB} + k]
                                - c.cq[m.m * {PQ_DSUB} + k]) ** 2),
           (x, y) -> x + y) AS d_q
  FROM base b, range(0, {PQ_M}) m(m), cb c
), ranked AS (
  SELECT vec_id, m, code, d_q,
         row_number() OVER (PARTITION BY vec_id, m ORDER BY d_q, code) AS rk
  FROM scored
)
SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code,
       CAST(d_q AS BIGINT) AS d_q
FROM ranked WHERE rk = 1
"""


# --------------------------------------------------------------------------
# trained PQ codebooks: per-subspace k-means (the codebooks Jégou et al.
# actually use)
# --------------------------------------------------------------------------

PQ_TRAIN_ITERS = 8

_PQ_TRAIN_CACHE: dict[str, list[list[list[int]]]] = {}


def train_pq_codebooks(sf_dir: str) -> list[list[list[int]]]:
    """Deterministic per-subspace L2 k-means over the same bounded
    driver-side sample as train_centroids (_bounded_lowest_sample — at
    most IVF_TRAIN_SAMPLE + one record batch held at once). Init =
    evenly spaced sample rows, fixed iterations, empty clusters keep
    their previous centroid; trained centroids quantize to the KM_Q
    integer grid so the literals inlined into the Spark plan and the
    DuckDB VALUES list are identical BIGINTs and every distance stays
    integer-exact. Temp arrays are sample x KSUB x DSUB float64
    (~4 MB) — far under the 32 MB malloc budget."""
    cached = _PQ_TRAIN_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    import os

    import numpy as np

    _, emb, _ = _bounded_lowest_sample(
        os.path.join(sf_dir, "embeddings.parquet"), IVF_TRAIN_SAMPLE
    )
    books = []
    for m in range(PQ_M):
        sub = emb[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
        init_idx = np.round(np.linspace(0, len(sub) - 1, PQ_KSUB)).astype(int)
        cent = sub[init_idx].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)  # ties -> lowest code
            for c in range(PQ_KSUB):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(
            [
                [int(round(float(v) * KM_Q)) for v in cent[c]]
                for c in range(PQ_KSUB)
            ]
        )
    _PQ_TRAIN_CACHE[sf_dir] = books
    return books


# --------------------------------------------------------------------------
# ADC search over PQ codes (the asymmetric-distance half of IVFADC)
# --------------------------------------------------------------------------

# Queries stay exact, the corpus is its PQ codes: distance(q, x) ≈
# sum_m LUT[q][m][code_m(x)] where LUT holds the integer squared L2
# from the query's m-th quantized subvector to each codebook entry.
# Shapes: the LUT frame is n_queries x PQ_M x PQ_KSUB rows (tiny —
# built by crossing the query frame with a literal codebook relation,
# then BROADCAST), the per-code join is map-side against it, and the
# only shuffles are the (query_id, vec_id) distance sum and the
# per-query top-K window. At the 100 TB design point ADC runs inside
# IVF-probed lists rather than the whole code table (full IVFADC); the
# ranking math and the gate are identical either way. Integer-exact end
# to end — the gate compares exact BIGINTs.
ADC_TOPK = 5


def q_embedding_ann_adc_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search with k-means-trained codebooks: the corpus is encoded
    against the codebooks, the LUT holds each query's distance to every
    codebook entry. Trained codebooks have lower quantization distortion
    than the first-KSUB rows, hence higher recall (BENCH/BASELINE.md
    "Dominated ANN variants")."""
    from pyspark.sql.window import Window

    books = train_pq_codebooks(sf_dir)
    emb_all = load(spark, sf_dir, "embeddings")
    codes = _pq_encode_with(emb_all, books).select("vec_id", "m", "code")
    cb = spark.createDataFrame(
        [(m, c, books[m][c]) for m in range(PQ_M) for c in range(PQ_KSUB)],
        "m int, code int, cq array<long>",
    )
    q = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("query_id"), _km_eq_col().alias("qe"))
    )
    ld = F.aggregate(
        F.zip_with(
            F.slice(F.col("qe"), F.col("m") * PQ_DSUB + 1, PQ_DSUB),
            F.col("cq"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    lut = q.crossJoin(cb).select("query_id", "m", "code", ld.alias("ld"))
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ADC_TOPK)
        .select("query_id", "neighbor_id", "rnk", "adc_d")
    )


def sql_embedding_adc_trained(sf_dir: str) -> str:
    """Oracle generated from the SAME trained codebooks as the Spark
    plan (callable QuerySpec.sql — data-derived literals, resolved at
    the driver's compare scale). Codebooks are (m, code, 8-dim BIGINT
    list) rows, so the distance lambdas index cq[k] directly instead of
    slicing a 64-dim vector."""
    books = train_pq_codebooks(sf_dir)
    rows = ", ".join(
        "({}, {}, [{}])".format(m, c, ", ".join(str(v) for v in books[m][c]))
        for m in range(PQ_M)
        for c in range(PQ_KSUB)
    )
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS eq
  FROM embeddings
), cb AS (
  SELECT * FROM (VALUES {rows}) v(m, code, cq)
), pqscored AS (
  SELECT b.vec_id, c.m, c.code,
         list_reduce(
           list_transform(range(1, {PQ_DSUB} + 1),
                          k -> (b.eq[c.m * {PQ_DSUB} + k] - c.cq[k]) ** 2),
           (x, y) -> x + y) AS d_q
  FROM base b, cb c
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d_q, code) AS rk
    FROM pqscored
  ) WHERE rk = 1
), q AS (
  SELECT vec_id AS query_id, eq AS qe FROM base WHERE vec_id % {QUERY_MOD} = 0
), lut AS (
  SELECT q.query_id, c.m, c.code,
         list_reduce(
           list_transform(range(1, {PQ_DSUB} + 1),
                          k -> (q.qe[c.m * {PQ_DSUB} + k] - c.cq[k]) ** 2),
           (x, y) -> x + y) AS ld
  FROM q, cb c
), s AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id, CAST(sum(l.ld) AS BIGINT) AS adc_d
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rnk, adc_d FROM (
  SELECT query_id, neighbor_id, adc_d,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d, neighbor_id) AS rnk
  FROM s
) WHERE rnk <= {ADC_TOPK}
"""


# --------------------------------------------------------------------------
# full IVFADC: ADC ranking restricted to IVF-probed inverted lists
# --------------------------------------------------------------------------

# The complete Jégou et al. search: the corpus is (inverted list id,
# PQ codes) — 8 bytes of code + one int per vector, never the raw
# embedding — queries probe IVF_NPROBE lists and ADC-score only the
# vectors inside them. 100 TB shapes, composed from the pieces above:
# list assignment and PQ encode are map-side literal projections (zero
# Exchange, plan-tested on their standalone queries), the probe is a
# broadcast K-row centroid table, the LUT is broadcast (n_queries x
# PQ_M x PQ_KSUB integer rows), and the only corpus shuffles carry
# (cid/vec_id/m/code) ids. The ADC distances are integer-exact; the
# oracle inlines the same trained centroids and codebooks as VALUES
# literals and re-derives lists, codes and LUT from them.


def _ivfadc_scored(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[int]]],
) -> DataFrame:
    """(query_id, neighbor_id, adc_d) ADC distances restricted to the
    IVF-probed lists. The broadcast centroid arrays are doubles: trained
    centroid components are 6-dp doubles, not the table's float32."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    # id-only inverted lists: (cid, vec_id); the embedding never shuffles
    lists = ivf_lists(emb, centroids).select("cid", "vec_id")
    codes = _pq_encode_with(emb, books).select("vec_id", "m", "code")
    cb = spark.createDataFrame(
        [(m, c, books[m][c]) for m in range(PQ_M) for c in range(PQ_KSUB)],
        "m int, code int, cq array<long>",
    )
    cent = F.broadcast(
        spark.createDataFrame(
            [(cid, ce) for cid, ce in centroids],
            "cid int, ce array<double>",
        )
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        _km_eq_col().alias("qe"),
    )
    # probe: nearest IVF_NPROBE centroids per query by the same rounded
    # cosine + tie rule as _ivf_search's assign (window over the tiny
    # query set only)
    pscore = q.join(cent).select(
        "query_id", "cid", _cos(F.col("qemb"), F.col("ce")).alias("csim")
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        pscore.withColumn("crank", F.row_number().over(pw))
        .filter(F.col("crank") <= IVF_NPROBE)
        .select("query_id", "cid")
    )
    ld = F.aggregate(
        F.zip_with(
            F.slice(F.col("qe"), F.col("m") * PQ_DSUB + 1, PQ_DSUB),
            F.col("cq"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    lut = q.crossJoin(cb).select("query_id", "m", "code", ld.alias("ld"))
    cand = probes.join(lists, "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").alias("adc_d"))
    )


# --------------------------------------------------------------------------
# IVFADC + exact rerank (the "refine" stage: FAISS IndexRefineFlat /
# Jégou et al. §V-D — ADC shortlists, exact distances re-rank)
# --------------------------------------------------------------------------

# ADC distances carry quantization distortion, so the true neighbor is
# often in the ADC top-R but not the ADC top-k. The refinement keeps
# everything about the IVFADC plan (id-only lists, broadcast LUT, codes
# 64-bit per vector) and adds ONE bounded step: the per-query ADC
# shortlist (R = ADC_RERANK rows per query — a window over the already
# per-query-small candidate set) joins back to the embeddings table for
# its R raw vectors and re-ranks by exact cosine. 100 TB shape: the
# rerank join touches n_queries * R embedding rows by vec_id (point
# lookups on the sorted/bucketed table), the query side broadcasts, and
# the shortlist shuffle carries only (query_id, neighbor_id). Recall
# approaches exact-IVF at the same nprobe while the scan stays PQ-coded.
# Exact-rerank shortlist depth. Chosen from the measured (R, nprobe)
# recall-cost curve (BENCH/BASELINE.md, r5 @ sf0.1): at the
# production probe budget nprobe=8 (1/4 of IVF_K lists), R=100 lifts
# recall@5 0.455 -> 0.585 over R=50 at equal wall (the rerank is R
# point lookups per query — negligible either way); R beyond 100 is
# bounded by what the probed lists contain, so deeper shortlists buy
# nothing until nprobe rises.
ADC_RERANK = 100


def _rerank_tail(spark: SparkSession, sf_dir: str, scored: DataFrame) -> DataFrame:
    """ADC top-R shortlist (R = ADC_RERANK) -> exact-cosine re-rank."""
    from pyspark.sql.window import Window

    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").asc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= ADC_RERANK)
        .select("query_id", "neighbor_id")
    )
    emb = load(spark, sf_dir, "embeddings")
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nemb"),
        _norm_col(F.col("embedding")).alias("nnorm"),
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"),
            _norm_col(F.col("embedding")).alias("qnorm"),
        )
    )
    re = short.join(nb, "neighbor_id").join(qv, "query_id").select(
        "query_id",
        "neighbor_id",
        _cos_pre(
            F.col("qemb"), F.col("nemb"), F.col("qnorm"), F.col("nnorm")
        ).alias("csim"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("neighbor_id")
    )
    return (
        re.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= ADC_TOPK)
        .select("query_id", "neighbor_id", "rnk", "csim")
    )


# --------------------------------------------------------------------------
# trained IVFADC + rerank: the production configuration
# --------------------------------------------------------------------------


def q_embedding_ann_ivfadc_trained_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full production ANN stack in one plan: k-means-trained coarse
    quantizer (spherical, bounded driver fit) + k-means-trained PQ
    codebooks + ADC scoring inside the probed lists + exact-cosine
    rerank of the top-R shortlist. The plan is literal-driven: the
    first-K/first-KSUB artifacts ran the same plan at lower recall
    (BENCH/BASELINE.md "Dominated ANN variants")."""
    scored = _ivfadc_scored(
        spark, sf_dir, train_centroids(sf_dir), train_pq_codebooks(sf_dir)
    )
    return _rerank_tail(spark, sf_dir, scored)


def sql_ivfadc_trained_rerank(sf_dir: str) -> str:
    """Callable oracle: the rerank chain with BOTH trained artifacts
    inlined as VALUES literals (centroids as 6-dp doubles, codebooks as
    8-dim BIGINT rows indexed cq[k])."""
    cent_rows = ", ".join(
        "({}, [{}])".format(cid, ", ".join(repr(v) for v in ce))
        for cid, ce in train_centroids(sf_dir)
    )
    books = train_pq_codebooks(sf_dir)
    cb_rows = ", ".join(
        "({}, {}, [{}])".format(m, c, ", ".join(str(v) for v in books[m][c]))
        for m in range(PQ_M)
        for c in range(PQ_KSUB)
    )
    return f"""
WITH cent AS (
  SELECT cid, ce FROM (VALUES {cent_rows}) v(cid, ce)
), cb AS (
  SELECT * FROM (VALUES {cb_rows}) v(m, code, cq)
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.embedding', 'c.ce')} DESC, c.cid) AS crank
    FROM embeddings e, cent c
  ) WHERE crank = 1
), base AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT)) AS eq
  FROM embeddings
), pqscored AS (
  SELECT b.vec_id, c.m, c.code,
         list_reduce(
           list_transform(range(1, {PQ_DSUB} + 1),
                          k -> (b.eq[c.m * {PQ_DSUB} + k] - c.cq[k]) ** 2),
           (x, y) -> x + y) AS d_q
  FROM base b, cb c
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d_q, code) AS rk
    FROM pqscored
  ) WHERE rk = 1
), q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qemb, b.eq AS qe
  FROM embeddings e JOIN base b USING (vec_id)
  WHERE e.vec_id % {QUERY_MOD} = 0
), probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qemb', 'c.ce')} DESC, c.cid) AS crank
    FROM q, cent c
  ) WHERE crank <= {IVF_NPROBE}
), lut AS (
  SELECT q.query_id, c.m, c.code,
         list_reduce(
           list_transform(range(1, {PQ_DSUB} + 1),
                          k -> (q.qe[c.m * {PQ_DSUB} + k] - c.cq[k]) ** 2),
           (x, y) -> x + y) AS ld
  FROM q, cb c
), cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cid)
  WHERE a.vec_id != p.query_id
), s AS (
  SELECT c.query_id, cd.vec_id AS neighbor_id, CAST(sum(l.ld) AS BIGINT) AS adc_d
  FROM cand c
  JOIN codes cd ON cd.vec_id = c.vec_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = cd.m AND l.code = cd.code
  GROUP BY 1, 2
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d, neighbor_id) AS srk
    FROM s
  ) WHERE srk <= {ADC_RERANK}
), re AS (
  SELECT sh.query_id, sh.neighbor_id,
         {_cos_sql('q.qemb', 'n.embedding')} AS csim
  FROM short sh
  JOIN q ON q.query_id = sh.query_id
  JOIN embeddings n ON n.vec_id = sh.neighbor_id
)
SELECT query_id, neighbor_id, rnk, csim FROM (
  SELECT query_id, neighbor_id, csim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY csim DESC, neighbor_id) AS rnk
  FROM re
) WHERE rnk <= {ADC_TOPK}
"""


# --------------------------------------------------------------------------
# label-aware training-data ops: cluster purity + hard-negative mining
# --------------------------------------------------------------------------

NEG_K = 5  # hard negatives mined per query vector


def q_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of every trained k-means cluster — the cluster-
    quality diagnostic a SemDeDup-style curation pipeline reads before
    trusting cluster-scoped decisions (pruning inside a low-purity
    cluster mixes semantic classes).

    Scale notes: assignment is the same Exchange-free map-side
    literal-centroid projection the IVF search uses (ivf_lists over
    train_centroids), so labeling 10^12 vectors is one scan with zero
    shuffles; the only Exchanges carry (cid, label, count) rows and
    then K cluster rows. Both per-cluster windows (majority rank,
    total) share one partitioning. Purity is emitted in EXACT integer
    arithmetic (ppm via integer DIV) so the oracle comparison never
    rides cross-engine float division."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    assign = ivf_lists(emb, train_centroids(sf_dir)).select("cid", "vec_id")
    per = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n_lab"))
    )
    wr = Window.partitionBy("cid").orderBy(
        F.col("n_lab").desc(), F.col("label")
    )
    wt = Window.partitionBy("cid")
    ranked = per.withColumn("r", F.row_number().over(wr)).withColumn(
        "n", F.sum("n_lab").over(wt)
    )
    return (
        ranked.filter(F.col("r") == 1)
        .withColumn("majority_n", F.col("n_lab"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n").cast("long").alias("n"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("majority_n").cast("long").alias("majority_n"),
            F.expr("1000000 * n_lab DIV n").cast("long").alias("purity_ppm"),
        )
    )


def sql_cluster_label_purity(sf_dir: str) -> str:
    """Callable oracle: the proven bit-identical assignment CTE (same
    tiebreak as ivf_assign_col) with trained centroids inlined, purity
    by integer division."""
    rows = ", ".join(
        "({}, [{}])".format(cid, ", ".join(repr(v) for v in ce))
        for cid, ce in train_centroids(sf_dir)
    )
    return f"""
WITH cent AS (
  SELECT cid, ce FROM (VALUES {rows}) v(cid, ce)
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.embedding', 'c.ce')} DESC, c.cid) AS crank
    FROM embeddings e, cent c
  ) WHERE crank = 1
), per AS (
  SELECT a.cid, e.label, count(*) AS n_lab
  FROM assign a JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2
), ranked AS (
  SELECT cid, label, n_lab,
         row_number() OVER (PARTITION BY cid
                            ORDER BY n_lab DESC, label) AS r,
         SUM(n_lab) OVER (PARTITION BY cid) AS n
  FROM per
)
SELECT CAST(cid AS BIGINT) AS cid, CAST(n AS BIGINT) AS n,
       CAST(label AS BIGINT) AS majority_label,
       CAST(n_lab AS BIGINT) AS majority_n,
       CAST((1000000 * n_lab) // n AS BIGINT) AS purity_ppm
FROM ranked WHERE r = 1
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the NEG_K most-cosine-similar vectors carrying a DIFFERENT label —
    the negatives that sit closest to the decision boundary.

    Scale notes: same shape as q_cosine_topk (the exact baseline —
    the IVF/ADC machinery drops in for the approximate path at 10^12):
    tiny query side broadcast so the corpus scan never shuffles, label
    mismatch filtered before scoring leaves the map side, one
    per-query top-k window over (query_id, neighbor_id, cos_sim)
    triples only."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        "label",
        _norm_col(F.col("embedding")).alias("en"),
    )
    q = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("en").alias("qn"),
        F.col("label").alias("qlabel"),
    )
    joined = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("qlabel")),
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(
            F.col("qe"), F.col("embedding"), F.col("qn"), F.col("en")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NEG_K)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )


SQL_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q.qe', 'e.embedding')} AS cos_sim
  FROM q JOIN embeddings e
    ON e.vec_id != q.query_id AND e.label != q.qlabel
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, cos_sim FROM ranked WHERE rnk <= {NEG_K}
"""


QUERIES = {
    "embedding_cosine_topk": QuerySpec(q_cosine_topk, SQL_COSINE_TOPK),
    "embedding_lsh_buckets": QuerySpec(q_lsh_buckets, SQL_LSH_BUCKETS),
    "embedding_ann_lsh": QuerySpec(q_ann_lsh, SQL_ANN_LSH),
    "embedding_ann_ivf_trained": QuerySpec(q_ann_ivf_trained, sql_ann_ivf_trained),
    "ivf_train_kmeans": QuerySpec(q_ivf_train_kmeans, SQL_IVF_TRAIN_KMEANS),
    "embedding_pq_encode": QuerySpec(q_embedding_pq_encode, SQL_EMBEDDING_PQ),
    "embedding_ann_adc_trained": QuerySpec(
        q_embedding_ann_adc_trained, sql_embedding_adc_trained
    ),
    "embedding_ann_ivfadc_trained_rerank": QuerySpec(
        q_embedding_ann_ivfadc_trained_rerank, sql_ivfadc_trained_rerank
    ),
    "embedding_cluster_label_purity": QuerySpec(
        q_cluster_label_purity, sql_cluster_label_purity
    ),
    "embedding_hard_negatives": QuerySpec(
        q_hard_negatives, SQL_HARD_NEGATIVES
    ),
}
