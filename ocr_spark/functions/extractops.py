"""Extraction-adjacent operators exposed as driver queries:

* ``infer_output_parse`` — the E4 stdout parser (deepseek.py:213-262) as
  a pure Catalyst array expression with a DuckDB oracle. The query
  synthesizes a model-stdout wrapper around each document's text in both
  engines identically, then parses it back out.
* the golden-gated media queries — ``extract_pdf_metadata`` (the S3
  pdf metadata probe), ``media_image_stats``, ``media_quality_analysis``
  (A1-A8), ``media_video_frames`` and ``media_audio_features``: one
  ``golden.MEDIA_QUERIES`` entry each, run here as an Arrow-batched
  ``mapInPandas`` over the entry's fixture parquet and hash-gated
  against its precomputed golden table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions import QuerySpec, load
from ocr_spark.functions.golden import MEDIA_QUERIES, MediaQuery, ensure_golden

MARKER = "=" * 21
BREAKER = "=" * 15


def _is_marker(line: Column) -> Column:
    return line.contains(MARKER) & ~F.lower(line).contains("save")


def _is_breaker(line: Column) -> Column:
    return F.lower(line).contains("save results") | line.contains(BREAKER)


def _is_debug(line: Column) -> Column:
    # regex, not trim(): Python's str.strip() (inferlog.py and the
    # reference parser) strips ALL whitespace; F.trim strips spaces only,
    # which would keep tab-indented debug lines the state machine drops
    return line.rlike("^\\s*(BASE:|PATCHES:)")


def parse_infer_output_col(raw: Column) -> Column:
    """Catalyst twin of ocr_spark.extract.inferlog.parse_infer_output."""
    lines = F.split(raw, "\n")
    n = F.size(lines)
    idx = F.sequence(F.lit(1), n)
    markers = F.filter(idx, lambda i: _is_marker(F.element_at(lines, i)))
    start = F.coalesce(F.try_element_at(markers, F.lit(2)), n + 1)
    # the reference breaks on the FIRST break line anywhere (the break
    # test precedes the in-text check), marker lines excepted
    breaks = F.filter(
        idx,
        lambda i: ~_is_marker(F.element_at(lines, i))
        & _is_breaker(F.element_at(lines, i)),
    )
    stop = F.coalesce(F.try_element_at(breaks, F.lit(1)), n + 1)
    kept = F.filter(
        idx,
        lambda i: (i > start)
        & (i < stop)
        & ~_is_marker(F.element_at(lines, i))
        & ~_is_debug(F.element_at(lines, i)),
    )
    joined = F.array_join(F.transform(kept, lambda i: F.element_at(lines, i)), "\n")
    return F.regexp_replace(joined, "^\\s+|\\s+$", "")


def q_infer_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    raw = F.concat(
        F.lit(MARKER), nl,
        F.lit("BASE:  torch.Size([1, 3])"), nl,
        F.lit("PATCHES:  torch.Size([4])"), nl,
        F.lit(MARKER), nl,
        F.col("text"), nl,
        F.lit("===============save results:==============="), nl,
        F.lit("debug tail"),
    )
    parsed = parse_infer_output_col(raw)
    return docs.select(
        "doc_id",
        F.length(parsed).alias("parsed_len"),
        F.md5(parsed.cast("binary")).alias("parsed_md5"),
    )


SQL_INFER_PARSE = f"""
WITH r AS (
  SELECT doc_id,
         '{MARKER}' || chr(10) ||
         'BASE:  torch.Size([1, 3])' || chr(10) ||
         'PATCHES:  torch.Size([4])' || chr(10) ||
         '{MARKER}' || chr(10) ||
         text || chr(10) ||
         '===============save results:===============' || chr(10) ||
         'debug tail' AS raw
  FROM documents
), s AS (
  SELECT doc_id, string_split(raw, chr(10)) AS lines FROM r
), m AS (
  SELECT doc_id, lines,
         list_filter(range(1, len(lines) + 1),
                     i -> (contains(lines[i], '{MARKER}')
                           AND NOT contains(lower(lines[i]), 'save'))) AS markers,
         list_filter(range(1, len(lines) + 1),
                     i -> NOT (contains(lines[i], '{MARKER}')
                               AND NOT contains(lower(lines[i]), 'save'))
                          AND (contains(lower(lines[i]), 'save results')
                               OR contains(lines[i], '{BREAKER}'))) AS brks
  FROM s
), p AS (
  SELECT doc_id, lines,
         coalesce(markers[2], len(lines) + 1) AS strt,
         coalesce(brks[1], len(lines) + 1) AS stop
  FROM m
), k AS (
  SELECT doc_id,
         regexp_replace(coalesce(array_to_string(
           list_transform(
             list_filter(range(1, len(lines) + 1),
                         i -> i > strt AND i < stop
                              AND NOT (contains(lines[i], '{MARKER}')
                                       AND NOT contains(lower(lines[i]), 'save'))
                              AND NOT regexp_matches(lines[i], '^\\s*(BASE:|PATCHES:)')),
             i -> lines[i]),
           chr(10)), ''), '^\\s+|\\s+$', '', 'g') AS parsed
  FROM p
)
SELECT doc_id, length(parsed) AS parsed_len, md5(parsed) AS parsed_md5 FROM k
"""


# --------------------------------------------------------------------------
# golden-gated media queries (functions/golden.py): binary payloads are
# opaque to SQL, so each query's expected rows are precomputed by the
# same row builder over the same cached fixture parquet, single-process,
# and its oracle reads that golden table back.
# --------------------------------------------------------------------------


def _media_query(q: MediaQuery) -> Callable[[SparkSession, str], DataFrame]:
    rows = q.rows

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_golden()  # the oracle SQL reads the golden table right after us
        media = spark.read.parquet(q.source()).select("media_ref", "png")
        return media.mapInPandas(lambda batches: map(rows, batches), q.schema)

    return fn


QUERIES = {
    "infer_output_parse": QuerySpec(q_infer_parse, SQL_INFER_PARSE),
    **{
        name: QuerySpec(_media_query(q), q.sql)
        for name, q in MEDIA_QUERIES.items()
    },
}
