#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default: nproc).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "extraction": {"docs": N, "spans": N, "docs_per_sec": ..., "spans_per_sec": ...}}

--scaling additionally runs the extraction job at local[N] and
local[4N] (N = cpus/4), each level pinned to its own cpuset, runs
interleaved round-robin, and reports throughput at both plus
efficiency = (T_N / T_4N) / 4 — the sandbox proxy for the north_rule's
two-cluster-size criterion (no real cluster here). Each timed run is
BRACKETED by same-cpuset machine-ceiling probes (the extraction kernel
mix itself via a multiprocessing pool — NOT a pure-CPU spin, whose
throttle curve differs from the workload's) and samples /proc/stat
steal across its own window. This VM's host throttles per-core
throughput when all vCPUs are busy and drifts with neighbor load, so
raw efficiency is bounded by a moving ceiling;
`scaling_efficiency_vs_machine` (per-rep raw/ceiling, median) is the
plan-level signal.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_DOCS = {"sf0.001": 60, "sf0.01": 120, "sf0.1": 240}
# scaling runs need enough work to amortize the heaviest single span
# (a 2 MP grid page costs ~100x a clean page). After the kernel strip
# fixes the heaviest span is ~3 s, so the run no longer hits a critical-
# path bound at this corpus size and measures the cleanest efficiency.
SCALE_DOCS = {"sf0.001": 120, "sf0.01": 240, "sf0.1": 4800}
WARMUP_DOCS = 16


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _corpus(n_docs: int, skew: int = 24) -> str:
    from ocr_spark.spark.corpus import fixture_corpus_dir

    return fixture_corpus_dir(n_docs, skew)


def _extraction_stats(corpus_dir: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(corpus_dir, "documents.parquet"), columns=["spans"])
    spans = sum(len(x) for x in tbl.column("spans").to_pylist())
    return tbl.num_rows, spans


def _run_extraction(spark, corpus_dir: str) -> float:
    from ocr_spark.spark.corpus import read_corpus
    from ocr_spark.spark.pipeline import run_pipeline

    docs, media = read_corpus(spark, corpus_dir)
    t0 = time.time()
    run_pipeline(spark, docs, media, run_id="bench").count()
    return time.time() - t0


def _warmup(spark, sf_dir: str | None = None) -> None:
    """Warm python workers (imports + heap) AND the JVM's execution
    memory: in this sandbox first-touch page faults run at ~5 MB/s, so
    the first shuffle/aggregate pays a large one-time tax unless warmup
    queries fault the heap first. Warmup runs at the TARGET scale so the
    JVM heap reaches its working size before anything is timed."""
    from ocr_spark.functions import all_queries

    _run_extraction(spark, _corpus(WARMUP_DOCS, skew=8))
    specs = all_queries()
    warm_sf = sf_dir or "/root/testdata/sf0.001"
    for name in ("dedup_minhash_lsh", "dedup_simhash", "events_rollup"):
        specs[name].fn(spark, warm_sf).count()


def _timed(fn, repeats: int = 2) -> float:
    """min-of-N wall clock — the fault tax hits whichever run expands the
    JVM heap, so the minimum is the steady-state figure."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def _ann_recall(spark, sf_dir: str) -> dict:
    """recall@IVF_TOPK of each ANN variant vs the brute-force top-k,
    plus the trained-IVF recall-cost CURVE over (IVF_K, nprobe) — the
    evidence behind the chosen defaults (VERDICT r3 #5). The collects
    are (n_queries * k) id pairs — bounded and tiny."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import similarity as S

    def pairs_of(df):
        df = df.filter(F.col("rnk") <= S.IVF_TOPK)
        return {
            (r["query_id"], r["neighbor_id"])
            for r in df.select("query_id", "neighbor_id").collect()
        }

    def pairs(name):
        return pairs_of(S.QUERIES[name].fn(spark, sf_dir))

    truth = pairs("embedding_cosine_topk")
    out = {"k": S.IVF_TOPK, "defaults": {"ivf_k": S.IVF_K, "nprobe": S.IVF_NPROBE}}
    for name in ("embedding_ann_ivf", "embedding_ann_ivf_trained",
                 "embedding_ann_adc", "embedding_ann_adc_trained",
                 "embedding_ann_ivfadc", "embedding_ann_ivfadc_rerank",
                 "embedding_ann_ivfadc_trained_rerank"):
        out[name] = round(len(pairs(name) & truth) / len(truth), 3)
    curve = []
    for ck in (16, 32, 64):
        cents = S.train_centroids(sf_dir, ck)
        for nprobe in (2, 4, 8):
            t0 = time.time()
            p = pairs_of(S._ivf_search(spark, sf_dir, cents, "double", nprobe))
            curve.append(
                {
                    "ivf_k": ck,
                    "nprobe": nprobe,
                    "recall": round(len(p & truth) / len(truth), 3),
                    "sec": round(time.time() - t0, 3),
                }
            )
    out["ivf_curve"] = curve
    # rerank/nprobe recall-cost curve for the PRODUCTION config (trained
    # IVFADC + exact rerank, VERDICT r4 #2): every (R, nprobe) combo
    # runs the full plan end-to-end, so `sec` carries the real cost of
    # probing more lists AND reranking a deeper shortlist. Defaults
    # (R=ADC_RERANK, nprobe=IVF_NPROBE) are chosen from this curve with
    # the stated target: max recall@5 while probing <= 1/4 of the
    # IVF_K lists; the curve records what the next rung up would buy.
    cents = S.train_centroids(sf_dir)
    books = S.train_pq_codebooks(sf_dir)
    out["defaults"]["adc_rerank"] = S.ADC_RERANK
    adc_curve = []
    for nprobe in (4, 8, 16):
        for rr in (25, 50, 100):
            t0 = time.time()
            p = pairs_of(
                S._rerank_tail(
                    spark,
                    sf_dir,
                    S._ivfadc_scored(
                        spark,
                        sf_dir,
                        centroids=cents,
                        books=books,
                        cent_type="double",
                        nprobe=nprobe,
                    ),
                    rerank=rr,
                )
            )
            adc_curve.append(
                {
                    "nprobe": nprobe,
                    "rerank": rr,
                    "recall": round(len(p & truth) / len(truth), 3),
                    "sec": round(time.time() - t0, 3),
                }
            )
    out["ivfadc_rerank_curve"] = adc_curve
    return out


def run_suite(sf_dir: str, cpus: int) -> dict:
    from ocr_spark.functions import all_queries
    from ocr_spark.spark.session import get_spark

    spark = get_spark(f"local[{cpus}]", app_name="ocr-spark-bench",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)

    n_docs = BENCH_DOCS.get(os.path.basename(sf_dir.rstrip("/")), 60)
    corpus = _corpus(n_docs)
    docs_n, spans_n = _extraction_stats(corpus)

    queries: dict[str, float] = {}
    # min-of-3 recovers the steady state past residual page-fault tax
    runs = [round(_run_extraction(spark, corpus), 3) for _ in range(3)]
    t_fused = min(runs)
    queries["extract_fused"] = t_fused

    # measure EVERY registered query: a curated list silently dropped
    # newly added operators from the artifact once; deriving from the
    # registry keeps BENCH coverage == driver coverage by construction
    headline = sorted(all_queries())
    specs = all_queries()
    # cache-honest reporting for the CC-label consumers (VERDICT r4 #4):
    # these three share the session-memoized label frame, so their suite
    # numbers after the first consumer are cache reads — record a COLD
    # figure per query (memo cleared before each rep) alongside, and
    # name the suite entries that are memoized so per-round comparisons
    # aren't misled
    label_consumers = (
        "dedup_clusters",
        "dedup_representatives",
        "split_leakage_safe",
    )
    from ocr_spark.functions import dedup as _dedup

    label_cold: dict[str, float] = {}
    for name in headline:
        if name in label_consumers:

            def cold_run(n=name):
                _dedup._LABELS_CACHE.clear()
                specs[n].fn(spark, sf_dir).count()

            label_cold[name] = round(_timed(cold_run), 3)
        queries[name] = round(
            _timed(lambda: specs[name].fn(spark, sf_dir).count()), 3
        )

    # ANN quality: recall@k of each IVF variant against the brute-force
    # truth (VERDICT r2 #6 — the trained quantizer must show its recall)
    recall = _ann_recall(spark, sf_dir)

    # corpus-level quality metrics (SURVEY §7.6: skip counts, confidence)
    from pyspark.sql import functions as F

    from ocr_spark.spark.corpus import read_corpus
    from ocr_spark.spark.pipeline import run_pipeline

    docs_df, media_df = read_corpus(spark, corpus)
    ext = run_pipeline(spark, docs_df, media_df, run_id="bench-metrics")
    # confidence over docs that extracted at least one media span —
    # all-skipped docs report 0.0 by construction and would skew the stat
    has_media = F.col("metrics.n_media") > F.col("metrics.skipped")
    agg = ext.agg(
        F.sum("metrics.skipped").alias("skips"),
        F.avg(F.when(has_media, F.col("metrics.ocr_confidence"))).alias("avg_conf"),
        F.min(F.when(has_media, F.col("metrics.ocr_confidence"))).alias("min_conf"),
    ).collect()[0]
    spark.stop()

    skew = _skew_evidence(sf_dir, cpus)

    # cold label-consumer runs are real suite work: count them in the
    # headline total so the fixpoint cost is visible, not hidden by the
    # memo (per-query cold/memoized split in label_consumers below)
    total = round(sum(queries.values()) + sum(label_cold.values()), 3)
    return {
        "metric": "extraction+ops suite wall clock",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "label_consumers": {
            "cold": label_cold,
            "memoized_in_suite": sorted(label_consumers),
            "note": (
                "queries[] times for these entries read the session-"
                "memoized CC label frame; cold[] clears the memo per rep"
            ),
        },
        "skew_join": skew,
        "ann_recall": recall,
        "sf": _sf_of(sf_dir),
        "extraction": {
            "docs": docs_n,
            "spans": spans_n,
            "docs_per_sec": round(docs_n / t_fused, 3),
            "spans_per_sec": round(spans_n / t_fused, 3),
            # every timed run, so the artifact shows the distribution
            "runs": runs,
            "skip_count": int(agg["skips"] or 0),
            "avg_ocr_confidence": round(float(agg["avg_conf"] or 0.0), 4),
            "min_ocr_confidence": round(float(agg["min_conf"] or 0.0), 4),
        },
    }


HOT_TENTHS = 3  # hot-key fixture: this many tenths of orders -> one custkey
# row multiplier: the hot reducer must do seconds of real work to rise
# above this sandbox's ~0.5 s constant per-task overhead (measured:
# ~0.17 us/row marginal join+agg cost), or the duration ratio hides
# under the noise floor even while the record ratio shows the skew
SKEW_AMPLIFY = 400


def _task_skew(spark, group: str) -> dict:
    """max/median completed-task duration of the heaviest stage in job
    group `group`, read from the Spark UI REST API (the evidence a
    SparkListener would give, without py4j callback plumbing)."""
    import urllib.request

    base = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}"
    )

    def get(path):
        with urllib.request.urlopen(base + path) as r:
            return json.load(r)

    jobs = [j for j in get("/jobs") if j.get("jobGroup") == group]
    best = None
    for sid in sorted({s for j in jobs for s in j["stageIds"]}):
        try:
            tasks = get(f"/stages/{sid}/0/taskList?length=10000")
        except Exception:
            continue
        durs, recs = [], []
        for t in tasks:
            if not t.get("duration"):
                continue
            durs.append(t["duration"])
            recs.append(
                t.get("taskMetrics", {})
                .get("shuffleReadMetrics", {})
                .get("recordsRead", 0)
            )
        # the join stage is the one READING the shuffled fact rows —
        # pick by total shuffle-read records, not wall (the scan stage's
        # uniform IO tasks would otherwise win and hide the reducer)
        if len(durs) >= 4 and sum(recs) > 0 and (
            best is None or sum(recs) > best[3]
        ):
            best = (sid, sorted(durs), sorted(recs), sum(recs))
    if best is None:
        return {"err": "no shuffle-read stage found"}
    sid, durs, recs, _tot = best
    med_d = durs[len(durs) // 2]
    med_r = recs[len(recs) // 2]
    return {
        "stage": sid,
        "n_tasks": len(durs),
        "task_ms_max": durs[-1],
        "task_ms_median": med_d,
        "task_skew_ratio": round(durs[-1] / max(1, med_d), 2),
        "shuffle_records_max": recs[-1],
        "shuffle_records_median": med_r,
        "shuffle_records_ratio": round(recs[-1] / max(1, med_r), 2),
    }


def _skew_evidence(sf_dir: str, cpus: int) -> dict:
    """Hot-key fixture evidence for the salted join (VERDICT r4 #7):
    redirect HOT_TENTHS/10 of (amplified) orders onto ONE custkey, run
    the plain and salted join shapes (relational.plain/salted_
    revenue_frames — the exact library plans) over the SAME
    materialized input, and record each variant's wall plus the
    max-task/median-task duration ratio of its heaviest stage. Runs in
    its own session with the UI on (task metrics come from the REST
    API) and AQE OFF — the point is to isolate the salt REWRITE from
    AQE's runtime skew split; the library default keeps AQE on as the
    second line of defense. Results must match exactly: the salt is a
    pure partitioning rewrite."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.relational import (
        SALT_R,
        load,
        plain_revenue_frames,
        salted_revenue_frames,
    )
    from ocr_spark.spark.session import get_spark

    spark = get_spark(
        f"local[{cpus}]",
        app_name="ocr-spark-skew",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        # spread the checkpoint across cores: the parquet base is one
        # partition at test scales, which would serialize the explode
        .repartition(cpus)
        .localCheckpoint()  # both variants read the identical base
    )
    cust = load(spark, sf_dir, "customer")
    hot_key = cust.agg(F.min("c_custkey")).collect()[0][0]
    key_type = base.schema["o_custkey"].dataType
    # amplification stays IN-PLAN (map-side explode before the shuffle,
    # deterministic) so the fixture never materializes SKEW_AMPLIFY x
    # the table — only the small base is checkpointed
    skewed = (
        base.withColumn(
            "_rep", F.explode(F.array(*[F.lit(i) for i in range(SKEW_AMPLIFY)]))
        )
        .withColumn(
            "o_custkey",
            F.when(
                F.pmod(F.hash("o_orderkey", "_rep"), F.lit(10)) < HOT_TENTHS,
                F.lit(hot_key).cast(key_type),
            ).otherwise(F.col("o_custkey")),
        )
        .withColumn(  # keep salts distinct across replicas
            "o_orderkey",
            F.col("o_orderkey") * SKEW_AMPLIFY + F.col("_rep"),
        )
        .drop("_rep")
    )
    n_rows = base.count() * SKEW_AMPLIFY
    sc = spark.sparkContext
    out: dict = {
        "hot_key": int(hot_key),
        "hot_fraction": HOT_TENTHS / 10,
        "rows": n_rows,
        "salt_r": SALT_R,
        "aqe": "off (isolates the salt rewrite)",
    }
    results = {}
    for name, frame in (
        ("plain", plain_revenue_frames(skewed, cust)),
        ("salted", salted_revenue_frames(skewed, cust)),
    ):
        sc.setJobGroup(name, f"skew-evidence-{name}")
        t0 = time.time()
        rows = {tuple(r) for r in frame.collect()}
        wall = round(time.time() - t0, 3)
        results[name] = rows
        out[name] = {"sec": wall, **_task_skew(spark, name)}
    out["results_equal"] = results["plain"] == results["salted"]
    spark.stop()
    return out


_CAL_CORPUS = None


def _cal_task(n_docs: int) -> int:
    """One calibration task: the extraction pipeline's OWN work —
    ocr_spark.core.process_document over a small deterministic fixture
    corpus (built once per pool worker, cached). The calibration
    workload must match the job's compute/memory profile: in this
    sandbox a register-only integer spin throttles to ~0.70x per-core
    at 32 busy cores, a small-working-set numpy kernel mix holds
    0.88-1.0x, and the real extraction mix (PNG codec + strip kernels
    + glyph extract, multi-MB temps) drops to ~0.6-0.8x — so
    normalizing the Spark job by anything lighter than its own work
    OVERSTATES the machine and understates the job (r4 finding; see
    BENCH/BASELINE.md). Because this calibration is embarrassingly
    parallel (zero coordination), job-vs-calibration isolates exactly
    what the north_rule's cluster criterion measures: scheduling,
    shuffle, and straggler overhead."""
    global _CAL_CORPUS
    from ocr_spark.core import process_document
    from ocr_spark.fixtures import build_corpus

    if _CAL_CORPUS is None:
        docs, media = build_corpus(n_docs=60, seed=42, skew_monster_spans=0)
        lookup = {m["media_ref"]: m["png"] for m in media}
        # media-bearing docs only: text-only docs are ~100x cheaper and
        # would let the probe finish before the host's multi-core
        # throttle even shows (the r4 first-cut probe measured
        # 17-77 "docs/s/core" on trivial docs — useless as a ceiling)
        heavy = [
            d
            for d in docs
            if any(
                s["kind"] in ("media", "pdf") and s["media_ref"]
                for s in d["spans"]
            )
        ]
        _CAL_CORPUS = (heavy, lookup)
    heavy, lookup = _CAL_CORPUS
    c = 0
    for i in range(n_docs):
        d = heavy[i % len(heavy)]
        out, _ = process_document(d["doc_id"], d["spans"], lookup.get, "got")
        c += len(out)
    return c


def _cal_pool(n: int):
    """Persistent spawn pool of n calibration workers, warmed (fixture
    corpus built + first-call numpy tax paid) so every probe measures
    steady state. Spawn, not fork: the caller hosts a live SparkSession
    — forking a multithreaded JVM-attached process can deadlock the
    children (ADVICE r3). The pool idles (zero CPU) while the Spark job
    runs; probes reuse it."""
    import multiprocessing as mp

    # warm via the pool INITIALIZER: a shared task queue gives no
    # guarantee every worker gets a warm task (a late-spawning worker
    # can find it drained and pay the corpus-build + first-call numpy
    # tax inside the first timed probe, understating that rep's
    # ceiling); the initializer runs in each worker by construction
    pool = mp.get_context("spawn").Pool(n, initializer=_cal_task, initargs=(2,))
    pool.map(_cal_task, [1] * n)  # block until every worker is up
    return pool


def _pool_rate(pool, n: int, docs: int = 10) -> float:
    """Per-core docs/s of the extraction calibration with n busy cores
    (no Spark, no shared state). The host throttles per-core throughput
    as more vCPUs go busy AND drifts minute-to-minute with neighbor
    load, so even a PERFECTLY scaling job cannot exceed
    eff = rate(4N)/rate(N), and the ceiling must be measured in the
    same time window as the runs it normalizes."""
    t0 = time.time()
    pool.map(_cal_task, [docs] * (n * 2))
    dt = time.time() - t0
    return round(docs * 2 / dt, 3)


def _guest_busy_steal() -> tuple[int, int]:
    """(busy, steal) clock ticks from /proc/stat, all vCPUs. Steal is
    accrued while the hypervisor deschedules a runnable vCPU — time the
    guest's utime ticks silently include. Sampling it ACROSS each timed
    run gives a per-run speed factor busy/(busy+steal) measured in the
    run's own window, not an adjacent probe's."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2], v[7]


def _tree_cpu_seconds() -> float:
    """utime+stime of this process and every LIVE descendant (the py4j
    JVM, pyspark.daemon, its forked python workers) via /proc — the
    cores-busy numerator for the scaling artifact's utilization figure.
    Workers that die and are reaped between the two samples lose their
    time (bias toward UNDER-counting utilization, never over)."""
    clk = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            procs[int(pid)] = (int(parts[1]), int(parts[11]), int(parts[12]))
        except (OSError, IndexError, ValueError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0.0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            total += (procs[p][1] + procs[p][2]) / clk
            stack.extend(kids.get(p, []))
    return total


def _scale_worker(n: int, corpus: str, conn) -> None:
    """Child process owning one live SparkSession at local[n]: warms
    once, then per parent request executes the n-core machine
    calibration (_pool_rate), the timed run, and the calibration AGAIN
    — a SYMMETRIC pair of host-speed probes bracketing the run's own
    time window (VERDICT r3 #2: a single one-sided probe mis-attributes
    neighbor bursts that start or end mid-run). Keeping both levels
    alive and ALTERNATING runs bounds host-speed drift between the
    levels (this VM's speed varies minute-to-minute with neighbor load
    — sequential per-level blocks measured the same job anywhere from
    60.8 s to 94.0 s at local[8] across one hour).

    The worker pins itself (and therefore everything it spawns — the
    py4j JVM, pyspark.daemon and its forked python workers, and the
    calibration pool) to exactly `n` vCPUs. Without the pin, the
    small level's JVM/shuffle/daemon overhead threads escape onto the
    24 idle vCPUs — capacity a real N-executor cluster does not have —
    so the N-core baseline runs artificially fast and the measured
    N->4N efficiency is biased LOW. Pinning makes both levels resource-
    honest: an \"N-core\" number means the job, overhead included, had
    exactly N cores (r4; the calibration pool inherits the same mask,
    so each rep's machine ceiling is measured on the same cpuset as
    the run it normalizes)."""
    os.sched_setaffinity(0, range(n))
    from ocr_spark.spark.session import get_spark

    spark = get_spark(
        f"local[{n}]", app_name=f"ocr-spark-scale-{n}", shuffle_partitions=n
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    _run_extraction(spark, corpus)  # corpus-scale warm pass
    pool = _cal_pool(n)
    conn.send("ready")
    while True:
        if conn.recv() == "stop":
            break
        rate_before = _pool_rate(pool, n)
        cpu0 = _tree_cpu_seconds()
        b0, s0 = _guest_busy_steal()
        wall = _run_extraction(spark, corpus)
        b1, s1 = _guest_busy_steal()
        util = (_tree_cpu_seconds() - cpu0) / (wall * n)
        steal_f = (b1 - b0) / max(1, (b1 - b0) + (s1 - s0))
        rate_after = _pool_rate(pool, n)
        conn.send((wall, rate_before, rate_after, util, steal_f))
    pool.terminate()
    spark.stop()
    conn.close()


def run_scaling(sf_dir: str, cpus: int, reps: int = 5) -> dict:
    """Same extraction job at local[N] and local[4N] (N = cpus // 4),
    one live session per level, timed runs interleaved round-robin
    (min per level), each run BRACKETED by before+after host-speed
    probes so every rep carries its own embarrassingly-parallel
    machine-ceiling calibration (symmetric windows, VERDICT r3 #2)."""
    import multiprocessing as mp

    n_small = max(1, cpus // 4)
    n_docs = SCALE_DOCS.get(os.path.basename(sf_dir.rstrip("/")), 120)
    corpus = _corpus(n_docs)
    docs_n, spans_n = _extraction_stats(corpus)
    ctx = mp.get_context("spawn")
    workers = {}
    for n in (n_small, cpus):
        parent, child = ctx.Pipe()
        proc = ctx.Process(target=_scale_worker, args=(n, corpus, child))
        proc.start()
        assert parent.recv() == "ready"
        workers[n] = (proc, parent)
    walls: dict[int, list] = {n_small: [], cpus: []}
    rates: dict[int, list] = {n_small: [], cpus: []}  # (before, after) pairs
    utils: dict[int, list] = {n_small: [], cpus: []}
    steals: dict[int, list] = {n_small: [], cpus: []}  # busy/(busy+steal)
    for _ in range(reps):
        for n in (n_small, cpus):
            _, conn = workers[n]
            conn.send("run")
            wall, rb, ra, util, steal_f = conn.recv()
            walls[n].append(round(wall, 3))
            rates[n].append((rb, ra))
            utils[n].append(round(util, 3))
            steals[n].append(round(steal_f, 4))
    for proc, conn in workers.values():
        conn.send("stop")
        proc.join()
    t_small, t_big = min(walls[n_small]), min(walls[cpus])
    ratio = cpus // n_small
    eff = (t_small / t_big) / ratio
    # steal-corrected walls: wall * busy/(busy+steal), the hypervisor
    # descheduling measured DURING the run itself (not an adjacent
    # probe) — what the wall would have been with zero steal
    cwalls = {
        n: [w * f for w, f in zip(walls[n], steals[n])] for n in (n_small, cpus)
    }
    eff_corr = (min(cwalls[n_small]) / min(cwalls[cpus])) / ratio
    # per-rep pairing: rep i's RAW efficiency normalized by rep i's
    # measured machine ceiling (extraction-mix probes bracketing each
    # run, mean of the pair; big-per-core over small-per-core) — a
    # perfectly scaling job scores 1.0 regardless of how hard the host
    # throttles or how neighbors drift between reps. The numerator is
    # deliberately NOT steal-corrected: the bracketing probes run with
    # ~the run's own steal, so hypervisor descheduling appears in BOTH
    # the ceiling and the raw wall and cancels — correcting only the
    # numerator would remove the same effect twice and bias vs_machine
    # high by the probe window's steal fraction (a perfectly scaling
    # job would score ~1/steal_factor_big > 1.0). steal_corrected is
    # still reported per rep as its own column. `calib_drift` is the
    # worse of the two levels' |before-after|/mean — the rep's own
    # evidence of how unstable its window was.
    per_rep = []
    for i in range(reps):
        raw_i = (walls[n_small][i] / walls[cpus][i]) / ratio
        corr_i = (cwalls[n_small][i] / cwalls[cpus][i]) / ratio
        mean_small = (rates[n_small][i][0] + rates[n_small][i][1]) / 2
        mean_big = (rates[cpus][i][0] + rates[cpus][i][1]) / 2
        ceil_i = mean_big / mean_small
        drift_i = max(
            abs(rates[n][i][0] - rates[n][i][1])
            / ((rates[n][i][0] + rates[n][i][1]) / 2)
            for n in (n_small, cpus)
        )
        per_rep.append(
            {
                "raw": round(raw_i, 3),
                "steal_corrected": round(corr_i, 3),
                "machine_ceiling": round(ceil_i, 3),
                "vs_machine": round(raw_i / ceil_i, 3),
                "calib_drift": round(drift_i, 3),
                "cpu_util_small": utils[n_small][i],
                "cpu_util_big": utils[cpus][i],
                "steal_factor_small": steals[n_small][i],
                "steal_factor_big": steals[cpus][i],
            }
        )
    vs_sorted = sorted(r["vs_machine"] for r in per_rep)
    vs_machine = vs_sorted[reps // 2]
    # the quietest rep (lowest bracketing-probe drift at both levels) is
    # the closest thing to an uncontended measurement this host offers —
    # its raw and vs-machine figures are the quiet-window spot check
    quiet = min(per_rep, key=lambda r: r["calib_drift"])
    return {
        "cores_small": n_small,
        "cores_big": cpus,
        "docs": docs_n,
        "spans": spans_n,
        "sec_small": round(t_small, 3),
        "sec_big": round(t_big, 3),
        "runs_small": walls[n_small],
        "runs_big": walls[cpus],
        "runs_small_steal_corrected": [round(w, 3) for w in cwalls[n_small]],
        "runs_big_steal_corrected": [round(w, 3) for w in cwalls[cpus]],
        # extraction-calibration docs/s/core, (before, after) per rep
        "per_core_docs_small": rates[n_small],
        "per_core_docs_big": rates[cpus],
        "docs_per_sec_small": round(docs_n / t_small, 3),
        "docs_per_sec_big": round(docs_n / t_big, 3),
        "spans_per_sec_small": round(spans_n / t_small, 3),
        "spans_per_sec_big": round(spans_n / t_big, 3),
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_steal_corrected": round(eff_corr, 3),
        "scaling_reps": per_rep,
        # median of the per-rep normalized values — the plan-level signal
        "scaling_efficiency_vs_machine": vs_machine,
        "quiet_rep": quiet,
        # whole-process-tree CPU-seconds / (wall * cores) per level: a
        # utilization near 1 at the BIG level is direct evidence the
        # plan keeps 4N cores busy — independent of host throttling
        "cpu_util_small": utils[n_small],
        "cpu_util_big": utils[cpus],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if "--scaling" in sys.argv:
        out = run_scaling(sf_dir, cpus)
        out["metric"] = "extraction scaling N->4N"
        out["unit"] = "sec"
        out["value"] = out["sec_big"]
        out["sf"] = _sf_of(sf_dir)
    else:
        out = run_suite(sf_dir, cpus)
        if "--with-scaling" in sys.argv:
            out["scaling"] = run_scaling(sf_dir, cpus)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
