"""Driver contract for the spark-graft builder (PySpark target).

* ``entry(spark)`` — flagship: the full interleaved-document extraction
  pipeline (text boilerplate branch + media/pdf image branch) over a
  corpus derived from /root/testdata/sf0.001 plus the deterministic
  fixture media tables.
* ``queries()`` — every SQL-checkable operator (text analysis, dedup
  family, similarity search, relational/stream ops) plus rows-only
  entries for the image pipeline itself.
* ``oracle_sql()`` — DuckDB equivalents generated from the same
  constants as the Spark plans (ocr_spark.functions.*).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DEFAULT_DOCS = 30


def _extract_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ocr_spark.functions.golden import GOLDEN_DOCS, GOLDEN_SKEW
        from ocr_spark.spark.corpus import fixture_corpus_dir, read_corpus
        from ocr_spark.spark.pipeline import run_pipeline

        # fixed-size correctness corpus: the golden oracle table is
        # precomputed for exactly this corpus (functions/golden.py)
        corpus = fixture_corpus_dir(GOLDEN_DOCS, GOLDEN_SKEW)
        docs, media = read_corpus(spark, corpus)
        out = run_pipeline(spark, docs, media, run_id="q-fused")
        # flatten to scalar columns (driver-hashable shape); the
        # explode_outer null row (empty-spans doc) maps to non-null
        # sentinels — nullable int columns go float64 in pandas-style
        # harness materialization, the same hash-killer as HUGEINT
        return out.select(
            "doc_id", F.explode_outer("spans").alias("span")
        ).select(
            "doc_id",
            F.coalesce(F.col("span.offset"), F.lit(-1)).alias("offset"),
            F.coalesce(F.col("span.kind"), F.lit("")).alias("kind"),
            F.coalesce(F.col("span.media_ref"), F.lit("")).alias("media_ref"),
            F.coalesce(F.length("span.text"), F.lit(-1)).alias("n_chars"),
            F.md5(F.coalesce(F.col("span.text"), F.lit("")).cast("binary")).alias(
                "text_md5"
            ),
        )

    return fn


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleave sf0.001 document texts with fixture media and
    run the full extraction pipeline; returns the extracted spans."""
    from ocr_spark.spark.corpus import fixture_corpus_dir, read_corpus
    from ocr_spark.spark.pipeline import run_pipeline

    sf_dir = "/root/testdata/sf0.001"
    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # each flat doc -> one text span (offset 0), running the text branch
    text_docs = flat.select(
        F.concat(F.lit("tdoc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    corpus = fixture_corpus_dir(_DEFAULT_DOCS)
    fix_docs, media = read_corpus(spark, corpus)
    docs = text_docs.unionByName(fix_docs.select("doc_id", "spans"))
    out = run_pipeline(spark, docs, media, run_id="entry")
    return out.select(
        "doc_id",
        F.col("metrics.n_spans").alias("n_spans"),
        F.col("metrics.n_media").alias("n_media"),
        F.col("metrics.n_text").alias("n_text"),
        F.col("metrics.skipped").alias("skipped"),
        F.round("metrics.ocr_confidence", 6).alias("ocr_confidence"),
        F.md5(
            F.to_json(F.struct(F.col("spans")))
        ).alias("spans_md5"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_spark.functions import all_queries

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: spec.fn for name, spec in all_queries().items()
    }
    out["extract_pipeline_fused"] = _extract_query()
    return out


def oracle_sql() -> dict[str, str]:
    import os

    from ocr_spark.functions import all_queries
    from ocr_spark.functions.golden import SQL_EXTRACT_SPANS, ensure_golden

    # golden tables must exist before DuckDB runs the image-path oracles
    ensure_golden()
    # data-derived oracles (callable QuerySpec.sql, e.g. trained IVF
    # centroids) are resolved at the driver's compare scale: sf0.01 per
    # the driver contract, overridable for local runs
    oracle_sf = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    out = {
        name: spec.sql_for(oracle_sf)
        for name, spec in all_queries().items()
        if spec.sql
    }
    # the extraction pipeline is checked against the single-process
    # golden spans table
    out["extract_pipeline_fused"] = SQL_EXTRACT_SPANS
    return out
