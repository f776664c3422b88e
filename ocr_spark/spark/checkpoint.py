"""Resumable bucketed execution with a per-partition checkpoint manifest.

The reference's crash-recovery contract is Redis job state + stale-job
cleanup (/root/reference/app/services/job_service.py:47-78,186-228);
restated for batch Spark (SURVEY.md §4.3): the doc space is hashed into
`n_buckets` ranges; each bucket's output commits to its own parquet dir,
then a manifest row commits atomically (tmp + rename). A restarted run
anti-joins the manifest and re-executes only missing buckets, so the
%-redone-work after a mid-run kill is bounded by one bucket.

Within a bucket Spark's own task retry (`spark.task.maxFailures`)
handles transient failures; the manifest handles driver death. Attempt
numbers come from `.inprogress` markers left behind by crashed runs —
the analog of the reference's stale-`processing` sweep.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ocr_spark.spark.pipeline import run_pipeline

MANIFEST_DIR = "_manifest"


def _table_layout_of(df: DataFrame) -> int | None:
    """The layout_buckets a frame's backing table was ingested with, read
    from the `_layout.json` sidecar at the table root (corpus.LAYOUT_META,
    written by write_corpus_parquet). None when it cannot be determined —
    catalog tables, external ingests, or pre-sidecar corpora — in which
    case the caller must not assume any particular modulus."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    path = files[0]
    if path.startswith("file:"):
        path = path[len("file:"):]
    elif "://" in path:  # remote filesystem — sidecar not reachable here
        return None
    d = os.path.dirname(path)
    while "=" in os.path.basename(d):  # walk up past hive partition dirs
        d = os.path.dirname(d)
    from ocr_spark.spark.corpus import LAYOUT_META

    try:
        with open(os.path.join(d, LAYOUT_META)) as f:
            return int(json.load(f)["layout_buckets"])
    except (OSError, ValueError, KeyError):
        return None


def _bucket_sql(n_buckets: int) -> str:
    return (
        "pmod(CAST(conv(substring(md5(doc_id), 1, 15), 16, 10) AS BIGINT),"
        f" {int(n_buckets)})"
    )


def bucket_expr(n_buckets: int):
    """Deterministic doc -> bucket hash (the resume partition key).

    md5-based so it is portable: identical to corpus.bucket_of (Python)
    and computable in any SQL engine — the ingest-time layout column and
    this runtime fallback always agree."""
    return F.expr(_bucket_sql(n_buckets))


def bucket_filter(df, n_buckets: int, b: int) -> str:
    """Predicate (SQL text) selecting runtime bucket `b`.

    If the input carries the materialized `bucket` layout column
    (corpus.write_corpus_parquet), filter on IT — Catalyst turns a
    deterministic predicate over a hive partition column into a
    PartitionFilter, so the scan reads ~1/n of the files instead of
    re-scanning the whole corpus once per bucket (the r1 scale bug).
    `pmod(bucket, n)` assigns every doc to exactly one runtime bucket for
    ANY layout count and any n.

    CAUTION (ADVICE r2): the two methods only assign the SAME runtime
    bucket to a given doc when n divides the layout bucket count
    (pmod(md5 % L, n) == md5 % n iff n | L) — nothing guarantees that
    (job.py defaults to --buckets 256 vs LAYOUT_BUCKETS=8). Each method
    is individually exhaustive and disjoint, so single-table use is
    always correct; what is NOT safe is filtering docs with one method
    and media with the other in the same bucket run — see
    run_extraction_job, which only prunes media when docs also filter on
    the bucket column."""
    return group_filter(df, n_buckets, [b])


def group_filter(df, n_buckets: int, buckets: list[int]) -> str:
    """Predicate (SQL text) selecting a GROUP of runtime buckets in one
    scan.

    Same two methods as bucket_filter; `pmod(partition_col, n) IN (...)`
    is still a deterministic partition predicate, so bucketed layouts
    prune to exactly the group's files."""
    key = (
        f"pmod(bucket, {int(n_buckets)})"
        if "bucket" in df.columns
        else _bucket_sql(n_buckets)
    )
    if len(buckets) == 1:
        return f"{key} = {int(buckets[0])}"
    return f"{key} IN ({', '.join(str(int(b)) for b in buckets)})"


def _bucket_stats(group: list[int]) -> list[Column]:
    """Manifest counts of every bucket in `group`, as aggregates over the
    written rows (the `bucket` column tells the buckets of a grouped
    write apart)."""
    exprs = []
    for b in group:
        in_b = f"bucket = {int(b)}" if len(group) > 1 else "true"
        exprs += [
            f"count_if({in_b}) AS n_docs_{b}",
            f"sum(CASE WHEN {in_b} THEN metrics.n_spans END) AS n_spans_{b}",
            f"sum(CASE WHEN {in_b} THEN metrics.skipped END) AS n_skipped_{b}",
        ]
    return [F.expr(e) for e in exprs]


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST_DIR)


def completed_buckets(out_dir: str) -> dict[int, dict]:
    """bucket -> manifest row for every committed bucket."""
    mdir = _manifest_path(out_dir)
    if not os.path.isdir(mdir):
        return {}
    out: dict[int, dict] = {}
    for name in os.listdir(mdir):
        if name.startswith("bucket-") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                row = json.load(f)
            out[int(row["bucket"])] = row
    return out


def _commit_manifest(out_dir: str, row: dict) -> None:
    """Atomic manifest commit: data is already durable, then tmp+rename.
    A crash between the two leaves the bucket uncommitted -> it reruns
    idempotently (overwrite mode)."""
    mdir = _manifest_path(out_dir)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"bucket-{row['bucket']:05d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)
    marker = os.path.join(mdir, f"bucket-{row['bucket']:05d}.inprogress")
    if os.path.exists(marker):
        os.remove(marker)


def _attempt_number(out_dir: str, bucket: int) -> int:
    """1 + number of prior uncommitted starts of this bucket."""
    marker = os.path.join(_manifest_path(out_dir), f"bucket-{bucket:05d}.inprogress")
    os.makedirs(_manifest_path(out_dir), exist_ok=True)
    attempt = 1
    if os.path.exists(marker):
        with open(marker) as f:
            try:
                attempt = int(f.read().strip() or "0") + 1
            except ValueError:
                attempt = 2
    with open(marker, "w") as f:
        f.write(str(attempt))
    return attempt


def run_extraction_job(
    spark: SparkSession,
    docs_df: DataFrame,
    media_df: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 8,
    profile: str = "default",
    mode: str = "fused",
    max_buckets: int | None = None,
    buckets_per_job: int = 1,
    **pipeline_kw,
) -> dict:
    """Process all not-yet-committed buckets; returns a run report.

    `max_buckets` caps how many buckets this invocation processes — the
    test hook for simulating a mid-run kill.

    `buckets_per_job` amortizes per-action overhead (VERDICT r2 #5): one
    Spark action scans and writes N buckets at once — the runtime bucket
    becomes a dynamic-overwrite partition column, so the output layout
    (`out_dir/bucket=b/`) and resume granularity are IDENTICAL to the
    N=1 loop; a kill between groups loses at most one group's work, and
    each bucket still commits its own manifest row. At --buckets 256
    this turns 256 sequential jobs (whose fixed scheduling cost
    dominates once buckets are small) into 256/N.

    `mode` must be "fused", the one media path; it remains so existing
    callers that name it keep working."""
    if mode != "fused":
        raise ValueError(f"unknown mode {mode!r}: the one media path is 'fused'")
    done = completed_buckets(out_dir)
    filter_method = "bucket-column" if "bucket" in docs_df.columns else "hash"
    # a committed manifest row only covers THIS invocation's doc subsets
    # if the bucketing matches: rerunning the same out_dir with a
    # different --buckets (or filter method) would silently drop and
    # duplicate docs, so fail fast instead (ADVICE r1)
    for b, row in done.items():
        if int(row.get("n_buckets", -1)) != n_buckets:
            raise ValueError(
                f"resume conflict: bucket {b} committed with "
                f"n_buckets={row.get('n_buckets')}, invoked with {n_buckets}"
            )
        if row.get("filter", filter_method) != filter_method:
            raise ValueError(
                f"resume conflict: bucket {b} committed with filter="
                f"{row.get('filter')}, this input implies {filter_method}"
            )
        fid = pipeline_kw.get("fidelity") or "fast"
        if row.get("profile", profile) != profile or row.get("fidelity", fid) != fid:
            import warnings

            warnings.warn(
                f"bucket {b} committed with profile={row.get('profile')}/"
                f"fidelity={row.get('fidelity')}; resuming with {profile}/{fid}",
                stacklevel=2,
            )
    media_has_bucket = "bucket" in media_df.columns
    # Media pruning is safe exactly when the media-side filter assigns
    # every doc the SAME runtime bucket as the docs-side filter. The
    # geometry is judged against the layouts the tables were ACTUALLY
    # ingested with (the _layout.json sidecar, via _table_layout_of) —
    # never a compile-time constant, since write_corpus_parquet's
    # layout_buckets is caller-chosen.
    #   * docs + media both bucketed, same ingest layout (or both
    #     unknown, the documented same-ingest assumption for catalog
    #     tables): pmod(bucket, n) applies the identical function to the
    #     identical per-doc value on both sides — safe for ANY n.
    #   * docs + media bucketed with DIFFERENT known layouts L_d != L_m:
    #     the assignments only coincide when n divides both; otherwise
    #     scan media unpruned (always correct, just slower) and warn.
    #   * docs on the md5-hash fallback, media bucketed with known
    #     layout L: safe iff n | L (pmod(md5 % L, n) == md5 % n). A
    #     known non-dividing L fails fast — a pruned run would silently
    #     turn media spans into counted skips (ADVICE r2 / VERDICT r3
    #     #8). Unknown L degrades to the unpruned scan with a warning.
    import warnings

    media_prunable = False
    if media_has_bucket and filter_method == "bucket-column":
        dl, ml = _table_layout_of(docs_df), _table_layout_of(media_df)
        same_ingest = dl == ml  # includes both-unknown: the documented
        # same-ingest assumption for catalog tables, where the two bucket
        # columns were materialized together. A sidecar PRESENT on one
        # side but not the other is evidence of different ingests, so it
        # does NOT get the assumption.
        both_divide = (
            dl is not None
            and ml is not None
            and dl % n_buckets == 0
            and ml % n_buckets == 0
        )
        if same_ingest or both_divide:
            media_prunable = True
        else:
            warnings.warn(
                f"docs and media bucket layouts differ or cannot be "
                f"compared (docs={dl}, media={ml}) and n_buckets="
                f"{n_buckets} does not provably divide both — scanning "
                "media unpruned",
                stacklevel=2,
            )
    elif media_has_bucket:
        ml = _table_layout_of(media_df)
        if ml is None:
            warnings.warn(
                "media carries the `bucket` layout column but its ingest "
                "layout is unknown and docs fall back to the md5 hash — "
                "scanning media unpruned",
                stacklevel=2,
            )
        elif ml % n_buckets == 0:
            media_prunable = True
        else:
            raise ValueError(
                f"mixed bucketing geometry: media was ingested with "
                f"layout_buckets={ml} but docs fall back to the md5 hash "
                f"and n_buckets={n_buckets} does not divide {ml} — the "
                "two assignments disagree, so a pruned run would "
                "silently skip media spans. Ingest docs with the layout "
                f"column or pick n_buckets dividing {ml}."
            )
    processed = []
    skipped = sorted(done)
    t_start = time.time()
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    bpj = max(1, buckets_per_job)
    for i in range(0, len(pending), bpj):
        group = pending[i : i + bpj]
        attempts = {b: _attempt_number(out_dir, b) for b in group}
        # media prunes on the owner-doc bucket it was ingested with —
        # without this the (PNG-heavy) media table re-scans per bucket.
        # media_prunable (above) holds exactly when the docs-side filter
        # provably assigns the same runtime bucket.
        media_g = (
            media_df.filter(group_filter(media_df, n_buckets, group))
            if media_prunable
            else media_df
        )
        result = run_pipeline(
            spark,
            docs_df,
            media_g,
            profile=profile,
            run_id=run_id,
            attempt=max(attempts.values()),
            docs_filter=group_filter(docs_df, n_buckets, group),
            **pipeline_kw,
        )
        paths = {b: os.path.join(out_dir, f"bucket={b}") for b in group}
        t0 = time.time()
        # The manifest counts ride on the write itself: an Observation
        # aggregates the rows as they stream into the writer, so no second
        # action re-reads the bucket. The observed node sits in the write's
        # result stage (no Exchange above it), where Spark applies each
        # partition's accumulator update once, so a retried task cannot
        # double count.
        obs = Observation(f"manifest-{group[0]}-{uuid.uuid4().hex}")
        stats = _bucket_stats(group)
        if len(group) == 1:
            result.observe(obs, *stats).write.mode("overwrite").parquet(
                paths[group[0]]
            )
        else:
            # any existing dir for an uncommitted bucket is garbage from a
            # crashed attempt (committed ones were filtered out of pending)
            # — clear it so a now-empty bucket can't resurrect stale rows
            for p in paths.values():
                if os.path.isdir(p):
                    shutil.rmtree(p)
            if filter_method == "bucket-column":
                # the doc's runtime bucket comes from the SAME layout
                # column the filter used — agreement by construction for
                # any ingest bucketing scheme. Ids-only join (no payloads);
                # the result side is already hash-partitioned by doc_id.
                ids = docs_df.filter(
                    group_filter(docs_df, n_buckets, group)
                ).selectExpr("doc_id", f"pmod(bucket, {n_buckets}) AS bucket")
                out_df = result.join(ids, "doc_id")
            else:
                out_df = result.withColumn("bucket", bucket_expr(n_buckets))
            (
                out_df.observe(obs, *stats)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(out_dir)
            )
        counts = obs.get
        elapsed = round(time.time() - t0, 3)
        for b in group:
            _commit_manifest(
                out_dir,
                {
                    "run_id": run_id,
                    "bucket": b,
                    "n_buckets": n_buckets,
                    "filter": filter_method,
                    "attempt": attempts[b],
                    "n_docs": int(counts[f"n_docs_{b}"]),
                    "n_spans": int(counts[f"n_spans_{b}"] or 0),
                    "n_skipped": int(counts[f"n_skipped_{b}"] or 0),
                    "elapsed_s": elapsed,
                    "buckets_per_job": len(group),
                    "profile": profile,
                    "fidelity": pipeline_kw.get("fidelity") or "fast",
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                },
            )
            processed.append(b)
    return {
        "run_id": run_id,
        "processed_buckets": processed,
        "skipped_buckets": skipped,
        "n_buckets": n_buckets,
        "elapsed_s": round(time.time() - t_start, 3),
        "complete": len(completed_buckets(out_dir)) == n_buckets,
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of all committed bucket outputs.

    A committed bucket with n_docs=0 may have no directory at all (the
    grouped dynamic-partition write emits nothing for empty buckets), so
    only existing dirs are read — the manifest, not the listing, is the
    commit record."""
    done = completed_buckets(out_dir)
    paths = [
        p
        for b in sorted(done)
        if os.path.isdir(p := os.path.join(out_dir, f"bucket={b}"))
    ]
    if not paths:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    return spark.read.parquet(*paths)
