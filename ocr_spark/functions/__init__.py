"""Training-data pipeline operators over the driver's parquet tables.

Each module exposes ``QUERIES: dict[name, QuerySpec]`` where a QuerySpec
pairs a Spark builder ``fn(spark, sf_dir) -> DataFrame`` with the
equivalent DuckDB oracle SQL (or None for rows-only checks). Spark
expressions and oracle SQL are generated from the *same* Python
constants (hash seeds, stopword lists, hyperplanes, regex patterns) so
the two engines cannot drift.

Cross-engine float determinism rules used throughout:
* never compare raw float SUMs — double addition is order-dependent and
  Spark/DuckDB aggregate in different orders. Money/value sums round
  each term to an integer quantum first (exact int64 sums both sides).
* single-value float ops (divide, multiply, cosine of one pair) are
  bit-identical IEEE ops; round(x, 6) guards the hash.
* DuckDB ``sum(BIGINT)`` returns HUGEINT, which Python DB clients
  materialize as float64 (``1074.0``) — a silent hash-killer against
  Spark's int64 even when values are equal. Every ``sum(...)`` in a
  final SQL projection must be wrapped ``CAST(sum(...) AS BIGINT)``
  (CTE pass-throughs keep HUGEINT too — cast at the aggregation site).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB oracle; None -> rows-only check. A callable form
    # ``sql(sf_dir) -> str`` is for oracles whose constants are
    # data-derived (e.g. trained IVF centroids): the SQL is generated
    # from the same constants as the Spark plan *for a given sf_dir*.
    sql: Optional[str | Callable[[str], str]]

    def sql_for(self, sf_dir: str) -> Optional[str]:
        return self.sql(sf_dir) if callable(self.sql) else self.sql


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def drain_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    run: Callable[[str, str, str], None],
) -> DataFrame:
    """Stream one testdata table through an availableNow parquet sink and
    return the sink's rows, materialised.

    The file stream source lists a DIRECTORY and testdata ships a single
    parquet file, so the file is exposed through a symlink in a scratch
    dir; ``run(in_dir, out_dir, ckpt_dir)`` starts the query and waits
    for it to drain. The rows are read back and pinned with an eager
    ``localCheckpoint`` before the scratch dir is removed, so the frame
    outlives its files and no dir is left behind."""
    tmp = tempfile.mkdtemp(prefix=f"ocr_spark_stream_{table}_")
    try:
        os.mkdir(f"{tmp}/in")
        os.symlink(
            os.path.abspath(f"{sf_dir}/{table}.parquet"),
            f"{tmp}/in/{table}.parquet",
        )
        run(f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        return spark.read.parquet(f"{tmp}/out").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def all_queries() -> dict[str, QuerySpec]:
    from ocr_spark.functions import (
        dedup,
        extractops,
        relational,
        similarity,
        textops,
    )

    out: dict[str, QuerySpec] = {}
    for mod in (textops, dedup, similarity, relational, extractops):
        overlap = set(out) & set(mod.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return out
