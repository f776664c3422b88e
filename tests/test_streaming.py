"""Streaming surface: a file-stream of documents drains through the same
pipeline (foreachBatch) and matches the oracle; a restarted query skips
already-processed files via the streaming checkpoint."""

from __future__ import annotations

import glob
import os


def test_stream_extract_matches_oracle(spark, corpus_dir, oracle_extracted, tmp_path):
    from ocr_spark.spark.streaming import stream_extract

    import pyarrow.parquet as pq

    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    # the corpus (a bucket-partitioned dataset) arrives as one file "drop";
    # drop the layout-only bucket column for the stream's flat schema
    tbl = pq.read_table(
        os.path.join(corpus_dir, "documents.parquet"),
        columns=["doc_id", "spans"],
    )
    pq.write_table(tbl, os.path.join(in_dir, "part-0001.parquet"))
    media = spark.read.parquet(os.path.join(corpus_dir, "media.parquet"))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_extract(
        spark, in_dir, media, out_dir, ckpt,
        available_now=True, span_partitions=8,
    )
    assert q.awaitTermination(600) is True
    assert not q.isActive

    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(rows) == set(oracle_extracted)
    for doc_id, (ospans, _om) in oracle_extracted.items():
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in rows[doc_id]["spans"]
        ]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in ospans]
        assert got == want, doc_id

    # restart with no new files: checkpoint prevents reprocessing
    n_files_before = len(glob.glob(os.path.join(out_dir, "*.parquet")))
    q2 = stream_extract(
        spark, in_dir, media, out_dir, ckpt,
        available_now=True, span_partitions=8,
    )
    assert q2.awaitTermination(300) is True
    assert not q2.isActive
    assert spark.read.parquet(out_dir).count() == len(oracle_extracted)
    assert len(glob.glob(os.path.join(out_dir, "*.parquet"))) == n_files_before


def test_windowed_rollup_drops_late_events(spark, tmp_path):
    """Watermark semantics: a tumbling window emits once, when the
    watermark passes its end, and an event arriving later than the
    watermark is dropped instead of mutating the finalized window."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.spark.streaming import stream_windowed_rollup

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    out_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    minute = dt.timedelta(minutes=1)

    def write(name, rows):
        tbl = pa.Table.from_pylist(
            [
                {
                    "event_id": i,
                    "ts": ts,
                    "user_id": 1,
                    "event_type": "c",
                    "value": 1.0,
                }
                for i, ts in enumerate(rows)
            ]
        )
        pq.write_table(tbl, os.path.join(in_dir, name))

    def drain():
        q = stream_windowed_rollup(
            spark, in_dir, out_dir, ckpt,
            window="1 hour", watermark="30 minutes", available_now=True,
        )
        assert q.awaitTermination(600) is True
        assert not q.isActive
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:  # noqa: BLE001 — no output yet
            return []

    # batch 1: two events in [12:00, 13:00) + one at 14:59 that will
    # advance the watermark to 14:29 after the batch
    write("b1.parquet", [t0, t0 + 10 * minute, t0 + 179 * minute])
    drain()

    # batch 2: a LATE event for the 12:00 window (watermark has passed
    # 13:00) + a fresh event; the late one must be dropped
    write("b2.parquet", [t0 + 20 * minute, t0 + 180 * minute])
    rows = {
        (r["window_start"], r["event_type"]): r for r in drain()
    }
    key = (t0, "c")
    assert key in rows, sorted(rows)
    assert rows[key]["n_events"] == 2  # late event NOT merged
    assert rows[key]["value_millis"] == 2000
    assert rows[key]["window_end"] == t0 + 60 * minute


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """applyInPandasWithState: an open session survives the micro-batch
    boundary and only closes when a later batch reveals the gap."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.spark.streaming import stream_sessionize

    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir)
    out_dir = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)

    def write(name, rows):
        tbl = pa.Table.from_pylist(
            [
                {
                    "event_id": i,
                    "ts": ts,
                    "user_id": u,
                    "event_type": "c",
                    "value": 1.0,
                }
                for i, (u, ts) in enumerate(rows)
            ]
        )
        pq.write_table(tbl, os.path.join(in_dir, name))

    # batch 1: user 1 has an in-batch gap (closes one session, keeps one
    # open); user 2 has a single open session
    write(
        "b1.parquet",
        [(1, t0), (1, t0 + 10 * sec), (1, t0 + 3000 * sec), (2, t0)],
    )
    q = stream_sessionize(spark, in_dir, out_dir, ckpt, gap_s=1800, available_now=True)
    assert q.awaitTermination(600) is True
    assert not q.isActive
    got1 = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got1 == {(1, 2)}  # only user 1's first session closed

    # batch 2: user 1's open session continues; user 2's gap closes theirs
    write(
        "b2.parquet",
        [(1, t0 + 3010 * sec), (2, t0 + 7200 * sec)],
    )
    q = stream_sessionize(spark, in_dir, out_dir, ckpt, gap_s=1800, available_now=True)
    assert q.awaitTermination(600) is True
    assert not q.isActive
    got2 = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got2 == {(1, 2), (2, 1)}


class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState (the state fn is a pure
    function of (key, pdfs, state) — unit-testable without a stream)."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self.removed = True


def _run_state_fn(fn, state, ts_list):
    import pandas as pd

    out = list(fn((1,), iter([pd.DataFrame({"ts": ts_list})]), state))
    return out[0] if out else None


def test_sessionize_state_fn_late_event_extends_session_backward():
    """A later micro-batch delivering an event BEFORE the open session's
    start (but within the gap) must extend session_start backward, not
    count the event inside an interval that excludes it."""
    import datetime as dt

    from ocr_spark.spark.streaming import make_sessionize_state_fn

    fn = make_sessionize_state_fn(gap_s=1800)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    us = lambda d: int(d.timestamp() * 1e6)  # noqa: E731
    state = _FakeGroupState((us(t0), us(t0), 1))
    late = t0 - dt.timedelta(seconds=600)  # within the gap
    assert _run_state_fn(fn, state, [late]) is None
    start_us, last_us, n = state.get
    assert start_us == us(late) and n == 2 and last_us == us(t0)


def test_sessionize_state_fn_late_event_beyond_gap_is_own_session():
    """An event older than the open session's start by MORE than the gap
    is its own (already gap-closed) session, emitted immediately."""
    import datetime as dt

    from ocr_spark.spark.streaming import make_sessionize_state_fn

    fn = make_sessionize_state_fn(gap_s=1800)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    us = lambda d: int(d.timestamp() * 1e6)  # noqa: E731
    state = _FakeGroupState((us(t0), us(t0), 1))
    very_late = t0 - dt.timedelta(seconds=4000)
    out = _run_state_fn(fn, state, [very_late])
    assert out is not None and len(out) == 1
    row = out.iloc[0]
    assert row["n_events"] == 1 and row["session_start"] == very_late
    # the open session is untouched
    assert state.get == (us(t0), us(t0), 1)


def test_sessionize_state_fn_skips_null_timestamps():
    """NaT rows carry no ordering information: they must be skipped, not
    poison start_us with INT64_MIN."""
    import datetime as dt

    import pandas as pd

    from ocr_spark.spark.streaming import make_sessionize_state_fn

    fn = make_sessionize_state_fn(gap_s=1800)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    state = _FakeGroupState()
    assert _run_state_fn(fn, state, [pd.NaT, t0, None]) is None
    start_us, last_us, n = state.get
    assert n == 1 and start_us == int(t0.timestamp() * 1e6)


def test_stream_dedup_drops_duplicates_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed state: an in-batch duplicate
    (same text, different whitespace) emits once, and a re-arrival in a
    LATER micro-batch is dropped by the carried key state — so the
    stream's survivors match what the batch dedup_exact would keep."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.spark.streaming import stream_dedup_exact

    in_dir = str(tmp_path / "docs")
    os.makedirs(in_dir)
    out_dir = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)

    def write(name, rows):
        tbl = pa.Table.from_pylist(
            [
                {"doc_id": i, "ts": ts, "text": tx}
                for i, ts, tx in rows
            ]
        )
        pq.write_table(tbl, os.path.join(in_dir, name))

    # batch 1: docs 1 and 3 normalize to the same content
    write(
        "b1.parquet",
        [
            (1, t0, "Alpha  beta gamma"),
            (2, t0 + sec, "delta epsilon"),
            (3, t0 + 2 * sec, " alpha beta   GAMMA "),
        ],
    )
    q = stream_dedup_exact(spark, in_dir, out_dir, ckpt, available_now=True)
    assert q.awaitTermination(600) is True
    assert not q.isActive
    first = spark.read.parquet(out_dir).collect()
    assert len(first) == 2, first  # one survivor per distinct hash
    hashes1 = {r["norm_hash"] for r in first}
    assert len(hashes1) == 2

    # batch 2: doc 4 re-sends doc-1 content (cross-batch dup -> state
    # drops it); doc 5 is new
    write(
        "b2.parquet",
        [
            (4, t0 + 10 * sec, "alpha beta gamma"),
            (5, t0 + 11 * sec, "zeta eta"),
        ],
    )
    q = stream_dedup_exact(spark, in_dir, out_dir, ckpt, available_now=True)
    assert q.awaitTermination(600) is True
    assert not q.isActive
    allrows = spark.read.parquet(out_dir).collect()
    assert len(allrows) == 3, allrows
    new = [r for r in allrows if r["norm_hash"] not in hashes1]
    assert len(new) == 1 and new[0]["doc_id"] == 5, allrows
