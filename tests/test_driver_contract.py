"""Mirror of the gate over __spark_entry__: the extraction pipeline must
hash-match the golden spans table (the single-process oracle,
precomputed by functions/golden.py), and the golden build itself must be
deterministic."""

from __future__ import annotations

from ocr_spark.functions import QuerySpec
from ocr_spark.functions.compare import compare_query

SF_DIR = "/root/testdata/sf0.001"


def test_extract_pipeline_matches_golden(spark):
    import __spark_entry__ as E

    name = "extract_pipeline_fused"
    spec = QuerySpec(E.queries()[name], E.oracle_sql()[name])
    r = compare_query(spark, SF_DIR, name, spec)
    assert r["ok"], r["detail"]
    assert r["rows"] > 0


def test_all_queries_have_oracles():
    """Round-2 target: zero rows-only entries — every driver query is
    hash-gated (image paths via golden tables)."""
    import __spark_entry__ as E

    q = E.queries()
    sql = E.oracle_sql()
    missing = sorted(set(q) - set(sql))
    assert missing == [], missing


def test_golden_build_is_idempotent_and_complete():
    import os

    from ocr_spark.functions.golden import _TABLES, ensure_golden, golden_path

    d1 = ensure_golden()
    d2 = ensure_golden()
    assert d1 == d2
    for t in _TABLES:
        assert os.path.exists(golden_path(t)), t


_RACE_BUILDER = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from ocr_spark.fixtures import cached_dir

sync = sys.argv[2]


def build(d):
    # wait until both processes are building: both have passed the
    # _done check before either renames
    open(os.path.join(sync, str(os.getpid())), "w").close()
    deadline = time.time() + 60
    while len(os.listdir(sync)) < 2:
        assert time.time() < deadline, "the other builder never started"
        time.sleep(0.01)
    # append: two builders writing into one dir leave two lines
    with open(os.path.join(d, "part"), "a") as f:
        f.write(f"{os.getpid()}\\n")


print(cached_dir("t_race", build))
"""


def test_cached_dir_builds_once_and_atomically(tmp_path, monkeypatch):
    """fixtures.cached_dir (golden tables, fixture corpus, video and
    audio tables): a build that raises leaves no final dir; a finished
    dir is returned without rebuilding; two processes racing on a cold
    dir both return the one complete dir."""
    import os
    import subprocess
    import sys
    import tempfile

    import pytest

    from ocr_spark.fixtures import cached_dir

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def failing(d):
        open(os.path.join(d, "part"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        cached_dir("t_fail", failing)
    assert os.listdir(tmp) == []

    built = []

    def build(d):
        built.append(d)
        open(os.path.join(d, "part"), "w").close()

    d = cached_dir("t_ok", build)
    assert cached_dir("t_ok", build) == d == str(tmp / "t_ok")
    assert len(built) == 1 and sorted(os.listdir(d)) == ["_done", "part"]

    sync = tmp_path / "sync"
    sync.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp)}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACE_BUILDER, repo, str(sync)],
            env=env, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    race = str(tmp / "t_race")
    assert outs == [race, race]
    assert sorted(os.listdir(race)) == ["_done", "part"]
    with open(os.path.join(race, "part")) as f:
        builders = f.read().split()
    assert len(builders) == 1 and builders[0] in os.listdir(sync)
    assert sorted(os.listdir(tmp)) == ["t_ok", "t_race"]  # no build dir left


def test_local_replay_never_counts_a_missing_oracle_green():
    """scripts/correctness_local.py: a query that ran but has no oracle
    is its own status, not green; a failed or errored compare is fail."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "scripts", "correctness_local.py"
    )
    spec = importlib.util.spec_from_file_location("correctness_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    base = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": 12, "oracle_rows": None, "err": None}
    assert mod._status({**base, "err": mod._NO_ORACLE}) == "no_oracle"
    assert mod._status({**base, "oracle_rows": 12, "rows_match": True,
                        "schema_match": True, "hash_match": True}) == "green"
    assert mod._status({**base, "oracle_rows": 12, "rows_match": True,
                        "schema_match": True, "hash_match": False}) == "fail"
    assert mod._status({**base, "rows_match": False, "err": "ValueError: x"}) == "fail"
