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
