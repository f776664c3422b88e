"""Local replay of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` DuckDB twin at the driver's compare scale (sf0.01) and
records a CORRECTNESS_r*-shaped row per query: row count, sorted-schema,
and order-insensitive value-hash matches, plus both value hashes
(``spark_hash``, ``oracle_hash``) so two replays can be diffed per
query. Exists because the r4 driver snapshot predates the late-round
registry growth (50 of 77 entries) — this makes the evidence durable at
HEAD until the next driver sweep (VERDICT r4, "Next round" #1).

Usage::

    python scripts/correctness_local.py [out.json]

Environment: SPARK_GRAFT_ORACLE_SF_DIR overrides the compare scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

from ocr_spark.functions.compare import _canon  # noqa: E402


def _value_hash(cols: list[str], rows, getter) -> tuple[int, str]:
    canon = sorted(
        "\x1f".join(_canon(getter(r, c)) for c in cols) for r in rows
    )
    h = hashlib.md5("\x1e".join(canon).encode()).hexdigest()
    return len(canon), h


_NO_ORACLE = "no oracle_sql entry"


def _status(row: dict) -> str:
    """green | fail | no_oracle. A query without an oracle ran, but
    nothing checked its values, so it is never counted green."""
    if row["err"] == _NO_ORACLE:
        return "no_oracle"
    ok = row["hash_match"] if row["hash_match"] is not None else row["rows_match"]
    return "green" if ok else "fail"


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_local_r5.json"
    import __spark_entry__ as entry
    from ocr_spark.functions.compare import duckdb_con
    from ocr_spark.spark.session import get_spark

    spark = get_spark(app_name="correctness-local")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb_con(SF_DIR)
    results: dict[str, dict] = {}
    t0 = time.time()
    for i, (name, fn) in enumerate(sorted(qs.items()), 1):
        row: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "spark_hash": None,
            "oracle_hash": None,
            "err": None,
        }
        try:
            sdf = fn(spark, SF_DIR)
            scols = sorted(sdf.columns)
            n_s, h_s = _value_hash(
                scols, sdf.collect(), lambda r, c: r[c]
            )
            row["spark_rows"] = n_s
            row["spark_hash"] = h_s
            sql = oracles.get(name)
            if sql is None:
                # nothing to compare against: neither green nor failed
                row["err"] = _NO_ORACLE
            else:
                ores = con.execute(sql)
                ocols_raw = [d[0] for d in ores.description]
                orows = ores.fetchall()
                ocols = sorted(ocols_raw)
                idx = {c: ocols_raw.index(c) for c in ocols}
                n_o, h_o = _value_hash(
                    ocols, orows, lambda r, c: r[idx[c]]
                )
                row["oracle_rows"] = n_o
                row["oracle_hash"] = h_o
                row["rows_match"] = n_s == n_o
                row["schema_match"] = scols == ocols
                row["hash_match"] = row["schema_match"] and h_s == h_o
        except Exception as exc:  # record, keep sweeping
            row["err"] = f"{type(exc).__name__}: {exc}"[:500]
            row["rows_match"] = row["rows_match"] or False
        row["status"] = _status(row)
        results[name] = row
        print(
            f"[{i}/{len(qs)}] {name}: {row['status'].upper()} "
            f"({row['spark_rows']} rows, {time.time()-t0:.0f}s elapsed)",
            flush=True,
        )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n_ok = sum(v["status"] == "green" for v in results.values())
    n_none = sum(v["status"] == "no_oracle" for v in results.values())
    print(f"{n_ok}/{len(results)} green, {n_none} without oracle -> {out_path}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
