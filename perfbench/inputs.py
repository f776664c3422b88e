"""Workload inputs and their oracle, built once and cached on disk.

The cache key is (workload, seed, hash of the `ocr_spark/` sources and
the generator, which holds the sizes), so a checkout never reuses an oracle computed by other
code. Generation and the oracle run before set-up starts and are not
part of any reported time.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))


def code_hash(root: str) -> str:
    """sha256 over the engine sources and the input generator."""
    h = hashlib.sha256()
    files = []
    for d, _dirs, names in os.walk(os.path.join(root, "ocr_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    files.append(os.path.join(HERE, "workloads.py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


@dataclass
class Inputs:
    name: str
    seed: int
    docs_path: str
    media_path: str
    # the warm-up corpus: the same recipe at `WARMUP_SCALE`, no oracle
    warmup_docs_path: str
    warmup_media_path: str
    oracle: dict[str, tuple[list, dict]]
    planted: dict[str, set[int]]
    meta: dict


def doc_tasks(docs: list[dict], payload: dict[str, bytes]) -> list[tuple[str, list, dict]]:
    """(doc_id, spans, {media_ref: bytes}) per document, costliest (most
    payload bytes) first, so no big document starts last in a pool."""
    tasks = [
        (d["doc_id"], d["spans"],
         {s["media_ref"]: payload.get(s["media_ref"]) for s in d["spans"] if s["media_ref"]})
        for d in docs
    ]
    return sorted(tasks, key=lambda t: -task_bytes(t))


def task_bytes(task: tuple[str, list, dict]) -> int:
    return sum(len(p or b"") for p in task[2].values())


def _oracle_doc(task: tuple[str, list, dict]) -> tuple[str, list, dict]:
    from ocr_spark.core import process_document

    doc_id, spans, payloads = task
    out, metrics = process_document(doc_id, spans, payloads.get)
    return doc_id, out, metrics


def compute_oracle(w: W.Workload, procs: int) -> dict[str, tuple[list, dict]]:
    """doc_id -> (spans, metrics) from `core.process_document`, computed in
    a pool of fresh (spawned) processes."""
    tasks = doc_tasks(w.docs, {m["media_ref"]: m["png"] for m in w.media})
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        results = pool.map(_oracle_doc, tasks, chunksize=max(1, len(tasks) // (procs * 16)))
        pool.close()
        pool.join()
    return {doc_id: (spans, metrics) for doc_id, spans, metrics in results}


def _build(tmp: str, name: str, seed: int, procs: int) -> None:
    """Generate and write the workload and its warm-up corpus, and run the
    oracle, into `tmp` (in a child process, so the engine's Spark modules
    are not imported before set-up)."""
    t0 = time.perf_counter()
    w = W.build(name, seed)
    W.write_corpus(w, tmp, W.JOBS[name]["layout_buckets"])
    W.write_corpus(
        W.build(name, seed, scale=W.WARMUP_SCALE),
        os.path.join(tmp, "warmup"), W.JOBS[name]["layout_buckets"],
    )
    t1 = time.perf_counter()
    oracle = compute_oracle(w, procs)
    t2 = time.perf_counter()
    meta = {
        "docs": len(w.docs),
        "spans": w.n_spans,
        "media_spans": sum(
            s["kind"] in ("media", "pdf") for d in w.docs for s in d["spans"]
        ),
        "media_rows": len(w.media),
        "planted_skips": len(w.planted),
        "generate_s": round(t1 - t0, 3),
        "oracle_s": round(t2 - t1, 3),
    }
    for fname, obj in (("oracle.json", oracle), ("planted.json", w.planted),
                       ("meta.json", meta)):
        with open(os.path.join(tmp, fname), "w") as f:
            json.dump(obj, f)


def prepare(root: str, work: str, name: str, seed: int, procs: int) -> Inputs:
    """Load the cached inputs for (name, seed, code), building them first
    if absent."""
    key = f"{name}-s{seed}-{code_hash(root)[:16]}"
    final = os.path.join(work, "cache", key)
    cached = os.path.exists(os.path.join(final, "meta.json"))
    if not cached:
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        child = multiprocessing.get_context("spawn").Process(
            target=_build, args=(tmp, name, seed, procs)
        )
        child.start()
        child.join()
        if child.exitcode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(f"building {key} failed (exit {child.exitcode})")
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(os.path.join(final, "oracle.json")) as f:
        oracle = {k: (v[0], v[1]) for k, v in json.load(f).items()}
    planted: dict[str, set[int]] = {}
    with open(os.path.join(final, "planted.json")) as f:
        for doc_id, off in json.load(f):
            planted.setdefault(doc_id, set()).add(int(off))
    with open(os.path.join(final, "meta.json")) as f:
        meta = {**json.load(f), "cached": cached}
    return Inputs(
        name, seed,
        os.path.join(final, "documents.parquet"),
        os.path.join(final, "media.parquet"),
        os.path.join(final, "warmup", "documents.parquet"),
        os.path.join(final, "warmup", "media.parquet"),
        oracle, planted, meta,
    )
