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
    """recall@IVF_TOPK of each ANN variant vs the brute-force top-k. The
    collects are (n_queries * k) id pairs — bounded and tiny."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import similarity as S

    def pairs(name):
        df = S.QUERIES[name].fn(spark, sf_dir).filter(F.col("rnk") <= S.IVF_TOPK)
        return {
            (r["query_id"], r["neighbor_id"])
            for r in df.select("query_id", "neighbor_id").collect()
        }

    truth = pairs("embedding_cosine_topk")
    out = {
        "k": S.IVF_TOPK,
        "defaults": {
            "ivf_k": S.IVF_K, "nprobe": S.IVF_NPROBE, "adc_rerank": S.ADC_RERANK
        },
    }
    for name in ("embedding_ann_ivf_trained", "embedding_ann_adc_trained",
                 "embedding_ann_ivfadc_trained_rerank"):
        out[name] = round(len(pairs(name) & truth) / len(truth), 3)
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
    specs = all_queries()
    for name in sorted(specs):
        queries[name] = round(
            _timed(lambda: specs[name].fn(spark, sf_dir).count()), 3
        )

    # ANN quality: recall@k of each ANN variant against the brute-force
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

    return {
        "metric": "extraction+ops suite wall clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
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
