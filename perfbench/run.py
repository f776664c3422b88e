#!/usr/bin/env python3
"""End-to-end extraction benchmark.

Times the product entry point, `checkpoint.run_extraction_job` (what
`job.py` runs), in the default `fused` mode on `local[k]`, k = min(4,
nproc), over one seeded workload, and checks every committed document
against the single-process oracle.

    python3 perfbench/run.py --workload media_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run record (workload shape, every pass, the host). `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (see
perfbench/README.md). Everything the run writes goes under
`.perfbench_work/` in the current directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# warm-up passes over the small warm-up corpus, charged to set-up: most
# of a cold pass is fixed cost (class loading, codegen, Python worker
# start), so a small corpus of the same recipe pays it for less
WARMUP_PASSES = 1
GC_SETTLE_S = 1.0

E2E_UNITS = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def start_spark(cores: int, trace: bool):
    """The engine's session (`session.get_spark`) with master and shuffle
    partitions passed explicitly, and every scratch path in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers import the engine from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    from ocr_spark.spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if trace else "false",
    }
    spark = get_spark(
        f"local[{cores}]", app_name="perfbench", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it and for
    the Python daemon and workers it started."""
    import host

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = host.tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    host.wait_gone(spawned)


def stop_resource_tracker() -> None:
    """The spawn pools leave multiprocessing's resource tracker running
    until interpreter exit; stop it and wait for it now."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def run_pass(spark, name: str, tables: tuple[str, str], out_dir: str, run_id: str) -> dict:
    """One job over the (documents, media) `tables`: every bucket
    committed, over as many invocations as workload `name`'s shape needs
    (a stop after `max_buckets`, then a resume). Returns the summed
    invocation wall time and the reports."""
    import workloads as W
    from ocr_spark.spark.checkpoint import run_extraction_job

    shape = W.JOBS[name]
    kw = {}
    if shape["span_partitions_per_core"]:
        kw["span_partitions"] = (
            shape["span_partitions_per_core"] * spark.sparkContext.defaultParallelism
        )
    reports, wall = [], 0.0
    max_buckets = shape["max_buckets"]
    while True:
        t0 = time.perf_counter()
        docs = spark.read.parquet(tables[0])
        media = spark.read.parquet(tables[1])
        rep = run_extraction_job(
            spark, docs, media, out_dir=out_dir, run_id=run_id,
            n_buckets=shape["n_buckets"], mode="fused",
            max_buckets=max_buckets, buckets_per_job=1, **kw,
        )
        wall += time.perf_counter() - t0
        reports.append(rep)
        if rep["complete"] or not rep["processed_buckets"]:
            break
        max_buckets = None
    return {"wall_s": wall, "reports": reports}


def committed_docs(out_dir: str) -> int:
    from ocr_spark.spark.checkpoint import completed_buckets

    return sum(int(r["n_docs"]) for r in completed_buckets(out_dir).values())


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "core.py")):
        return _fail("run from the repository root: ocr_spark/ sources not found")
    sys.path[:0] = [ROOT, HERE]

    import check
    import host
    import inputs as I
    import workloads as W

    if args.workload not in W.JOBS:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(W.JOBS)}")
    cores = max(1, min(4, os.cpu_count() or 1))
    os.makedirs(WORK, exist_ok=True)
    t_prep = time.perf_counter()
    inp = I.prepare(ROOT, WORK, args.workload, args.seed, cores)
    prep_s = time.perf_counter() - t_prep
    code_hash = I.code_hash(ROOT)

    spark = start_spark(cores, trace=bool(args.trace))
    pss = host.PssSampler(os.getpid()).start()
    runs_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(runs_dir, ignore_errors=True)
    try:
        warm_walls = []
        for i in range(WARMUP_PASSES):
            out = os.path.join(runs_dir, f"warm{i}")
            res = run_pass(spark, inp.name, (inp.warmup_docs_path, inp.warmup_media_path),
                           out, f"warm{i}")
            warm_walls.append(res["wall_s"])
            shutil.rmtree(out, ignore_errors=True)
        t_first = time.perf_counter()
        setup_s = t_first - T_START - prep_s
        if args.trace:
            import sparkmetrics

            probe = sparkmetrics.RestProbe(spark)
            probe.mark()
        passes, attempted, failed, problems = [], 0, 0, {}
        timed = 0.0
        while timed < args.seconds:
            out = os.path.join(runs_dir, f"pass{len(passes)}")
            # every pass starts from a collected driver heap, so the JVM's
            # share of the peak does not depend on when it last collected;
            # G1 returns the freed memory concurrently, hence the pause
            spark.sparkContext._jvm.System.gc()
            time.sleep(GC_SETTLE_S)
            pss.reset()
            ticks0 = host.cpu_ticks()
            res = run_pass(spark, inp.name, (inp.docs_path, inp.media_path),
                           out, f"pass{len(passes)}")
            ticks1 = host.cpu_ticks()
            peak, peak_by = pss.peak()
            timed += res["wall_s"]
            # outside the timed region: count and check what was committed
            docs = committed_docs(out)
            verdict = check.check_rows(check.read_output(out), inp.oracle, inp.planted)
            attempted += verdict.attempted
            failed += verdict.failed
            problems.update(verdict.problems)
            passes.append({
                "wall_s": round(res["wall_s"], 4),
                "docs": docs,
                "docs_per_s": docs / res["wall_s"],
                "invocations": len(res["reports"]),
                "empty_text_spans": verdict.empty_text_spans,
                "manifest_commits": sum(len(r["processed_buckets"]) for r in res["reports"]),
                "buckets_resumed": len(res["reports"][-1]["processed_buckets"])
                if len(res["reports"]) > 1 else 0,
                "peak_pss_mb": peak,
                "peak_pss_by_command": {k: round(v, 1) for k, v in sorted(peak_by.items())},
                "steal_share": round(host.steal_share(ticks0, ticks1), 4),
            })
            shutil.rmtree(out, ignore_errors=True)
        if args.trace:
            spark_layers = probe.layers(passes, cores)
    finally:
        pss.close()
        stop_spark(spark)
        shutil.rmtree(runs_dir, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": {**inp.meta, "spans_per_doc": round(inp.meta["spans"] / inp.meta["docs"], 3)},
        "cores": cores,
        "warmup_walls_s": [round(w, 3) for w in warm_walls],
        "prepare_s": round(prep_s, 3),
        "setup_s": round(setup_s, 3),
        "passes": passes,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "first_problems": dict(list(problems.items())[:10]),
        "host": host.host_record(code_hash, cores),
        "run_s": round(time.perf_counter() - T_START, 3),
    }
    if args.trace:
        import ktrace as T

        layers = {**spark_layers, **T.replay_metrics(inp, cores)}
        layers["tracing.spark_docs_per_s"] = statistics.median(
            p["docs_per_s"] for p in passes
        )
        metrics = {k: {"value": v, "unit": T.unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {
            "docs_per_s": statistics.median(p["docs_per_s"] for p in passes),
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(p["peak_pss_mb"] for p in passes),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    stop_resource_tracker()
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
