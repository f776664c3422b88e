"""The distributed extraction plan (SURVEY.md §3.4).

    read documents (+ media join)            [scan, column pruning]
    posexplode_outer(spans) -> branch on kind [Filter/Project]
      text:  Catalyst boilerplate expression [zero Python]
      media/pdf: join media -> SPDF pages become rows -> cost-dealt
                 repartition -> one Arrow UDF stage, one row at a time
    union branches
    repartition(doc_id)                      [explicit, north_rule]
    groupBy(span) page fan-in                [pure Catalyst]
    groupBy(doc_id) reassembly agg           [pure Catalyst]

Skew: heavy docs never pin a task because parallelism is at page
granularity. An SPDF span becomes one row per page plus one container
check row, sliced out of the payload in Catalyst (_page_rows), so a
500-page pdf spreads over every task and each row carries only its own
page's bytes. Rows are dealt to one partition per core by an estimated
pixel cost read from the payload header (_deal_by_cost): heaviest
first, in snake order, so a skew-monster doc's big pages land on
distinct tasks. The page fan-in and the reassembly both group under the
one doc_id Exchange; collect_list of small text structs is cheap even
for a 500-span doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import EngineProfile, get_profile
from ocr_spark.core import PAGE_MARKER, PDF_DPI
from ocr_spark.spark import schemas as S
from ocr_spark.spark.stages import make_fused_extract
from ocr_spark.spark.text_branch import main_content_sql, sql_str

MEDIA_KINDS = ("media", "pdf")

# Static expressions are Spark SQL text: one py4j call parses a whole
# projection JVM-side, where the same expression built from Column calls
# costs a round trip per node (the text classifier alone has ~650).
_IS_MEDIA = f"kind IN ({', '.join(map(sql_str, MEDIA_KINDS))})"
# constant columns of a span row that never went through the UDF
_NO_STEPS = "CAST(array() AS ARRAY<STRING>) AS steps_applied"
_NO_TIME = "0L AS elapsed_ms"


def _span_rows(docs_df: DataFrame) -> DataFrame:
    """posexplode_outer keeps empty-spans docs as a null-kind row so the
    doc still appears in the output with spans=[] (FIXTURES.md edge
    case). `span_pos` is the span's index in `spans`: the identity the
    page fan-in regroups by, so two identical spans stay two spans."""
    return docs_df.selectExpr(
        "doc_id", "posexplode_outer(spans) AS (span_pos, s)"
    ).selectExpr(
        "doc_id", "span_pos", "s.kind AS kind", "s.text AS text",
        "s.media_ref AS media_ref", "s.offset AS offset",
    )


def _non_media_branch(spans: DataFrame) -> DataFrame:
    """Text spans (boilerplate strip, entirely JVM-side), unknown kinds
    (counted skips, core.py else-branch), and the null-kind rows that
    keep empty-spans docs alive — one scan, one Filter+Project."""
    return spans.where(f"kind IS NULL OR NOT {_IS_MEDIA}").selectExpr(
        "doc_id",
        "span_pos",
        "kind",
        f"CASE WHEN kind = 'text' THEN {main_content_sql('text')}"
        " WHEN kind IS NOT NULL THEN '' END AS text",
        "media_ref",
        "offset",
        "CAST(NULL AS INT) AS page",
        "0.0D AS confidence",
        _NO_STEPS,
        "CASE WHEN kind IS NOT NULL THEN 'none' END AS split_method",
        "kind IS NOT NULL AND kind != 'text' AS skipped",
        _NO_TIME,
    )


def _media_span_rows(docs_df: DataFrame) -> DataFrame:
    """Span rows for the media branch, WITHOUT the text payload.

    Catalyst's generator pruning only handles single-field explodes, so
    a plain `posexplode(spans)` here would read the whole text corpus a
    second time. `arrays_zip` over direct field extracts
    (GetArrayStructFields) IS covered by the nested SchemaPruning rule,
    so zipping (kind, media_ref, offset) and exploding the zipped array
    prunes `spans.text` out of the scan for ANY source — parquet paths,
    temp views, and catalog (Iceberg) tables alike (VERDICT r2 #1; the
    r2 build special-cased parquet paths with a pruned re-scan and left
    the production `table:` inputs reading text twice)."""
    return docs_df.selectExpr(
        "doc_id",
        "posexplode(arrays_zip(spans.kind, spans.media_ref, spans.offset))"
        " AS (span_pos, s)",
    ).selectExpr(
        "doc_id", "span_pos", "s.kind AS kind", "s.media_ref AS media_ref",
        "s.offset AS offset",
    )


def _media_input(
    media_spans: DataFrame,
    media_df: DataFrame,
    span_partitions: int,
    max_payload_bytes: int | None = None,
) -> DataFrame:
    # oversize-payload guard (file_validation.py:149-162): nulling the
    # payload turns the span into a counted skip, never an exception
    png = (
        f"CASE WHEN length(png) <= {int(max_payload_bytes)} THEN png END AS png"
        if max_payload_bytes
        else "png"
    )
    m = media_df.selectExpr("media_ref", png)
    joined = media_spans.where(_IS_MEDIA).join(m, "media_ref", "left")
    # Explicit partition count — AQE coalesces by *bytes*, but this
    # stage's cost is compute per page, so byte-based coalescing
    # recreates skew.
    return _deal_by_cost(
        _page_rows(joined), span_partitions, PAGE_COST_SQL,
        ("doc_id", "span_pos", "page"),
    )


def _be_u32(pos: int | str) -> str:
    """Big-endian u32 at 1-based byte `pos` (a number or an INT SQL
    expression) of the payload, as a double (hex the 4-byte slice, conv
    base16 -> base10). A payload too short for the slice reads as NULL."""
    word = f"substring(png, {pos}, 4)"
    return f"CASE WHEN length({word}) = 4 THEN CAST(conv(hex({word}), 16, 10) AS DOUBLE) END"


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_SPDF_MAGIC = b"SPDF1\n"
_IS_PNG = f"substring(png, 1, {len(_PNG_SIG)}) = X'{_PNG_SIG.hex()}'"
_IS_SPDF = f"substring(png, 1, {len(_SPDF_MAGIC)}) = X'{_SPDF_MAGIC.hex()}'"
# SPDF pages are 72-dpi bases rendered at 300 dpi (pdfio.render_pages)
_PDF_RENDER_AREA = (PDF_DPI / 72) ** 2

# Estimated extraction cost of a media span, in rendered pixels, read
# from the payload header in pure Catalyst (no scan beyond the `png`
# column the join already reads):
#
# * PNG: IHDR width x height (bytes 17-24);
# * SPDF: page count x first-page IHDR pixels x the 300-dpi zoom area
#   (the first page PNG starts at byte 15, so its IHDR at byte 31);
# * anything else (missing payloads, %PDF streams, garbage): 0 — these
#   are skips or fitz-bound payloads with no header to read.
#
# Pixels track the per-span work well: a ~2.3 MP page takes 1-2 s, a
# 2-3 page pdf 0.6-0.9 s and a 0.2 MP page 50-150 ms on a 4-vCPU host.
SPAN_COST_SQL = (
    f"coalesce(CASE WHEN {_IS_PNG} THEN {_be_u32(17)} * {_be_u32(21)}"
    f" WHEN {_IS_SPDF} THEN {_be_u32(7)} * {_be_u32(31)} * {_be_u32(35)}"
    f" * {_PDF_RENDER_AREA!r}D END, 0.0D)"
)
# The cost of a row of _page_rows: a whole span costs SPAN_COST_SQL, a
# page its zoomed pixels, and a container check (page -1) nothing.
PAGE_COST_SQL = (
    f"{SPAN_COST_SQL} * CASE WHEN page IS NULL THEN 1.0D"
    f" WHEN page >= 0 THEN {_PDF_RENDER_AREA!r}D ELSE 0.0D END"
)

# An SPDF container (pdfio.encode_pdf) is the 6-byte magic, a u32 page
# count, per page a u32 length and the page PNG, then a u32 length and
# the JSON metadata: at least 14 + 4 x pages bytes.
_SPDF_PAGES = f"CAST({_be_u32(7)} AS BIGINT)"
# Walking the length prefixes costs pages^2 / 2 element copies (each
# step of `aggregate` copies its array), so a span with more pages than
# this stays one row, processed in one task as a %PDF payload is.
MAX_PAGE_ROWS = 4096
_FANS_OUT = (
    f"kind = 'pdf' AND {_IS_SPDF}"
    f" AND {_SPDF_PAGES} <= least((length(png) - 14) div 4, {MAX_PAGE_ROWS})"
)


def _u32_at(at: str) -> str:
    """The u32 at 1-based BIGINT byte `at`, NULL past the payload (so no
    position ever overflows the INT a substring takes)."""
    return (
        f"CASE WHEN {at} + 3 <= length(png) THEN"
        f" CAST({_be_u32(f'CAST({at} AS INT)')} AS BIGINT) END"
    )


# (at, len) of every page PNG: each step reads the length prefix at the
# running position, which then moves past it and the page. A truncated
# container yields NULLs from the first prefix past its end on.
_PAGE_SLOTS = (
    f"aggregate(array_repeat(0, CAST({_SPDF_PAGES} AS INT)),"
    " named_struct('at', 11L, 'pages',"
    " CAST(array() AS ARRAY<STRUCT<at: BIGINT, len: BIGINT>>)),"
    f" (acc, x) -> named_struct('at', acc.at + 4 + {_u32_at('acc.at')},"
    f" 'pages', concat(acc.pages, array(named_struct('at', acc.at + 4,"
    f" 'len', {_u32_at('acc.at')})))),"
    " acc -> acc.pages)"
)
_PAGE_ROWS = (
    f"CASE WHEN {_FANS_OUT} THEN concat("
    "array(named_struct('page', -1, 'png', png)),"
    f" transform({_PAGE_SLOTS}, (p, k) -> named_struct('page', k, 'png',"
    " CASE WHEN p.len IS NOT NULL THEN"
    " substring(png, CAST(p.at AS INT), CAST(least(p.len, length(png)) AS INT)) END)))"
    " ELSE array(named_struct('page', CAST(NULL AS INT), 'png', png)) END"
)


def _page_rows(joined: DataFrame) -> DataFrame:
    """One row per media span, except an SPDF pdf span, which becomes a
    container check row (page -1, the whole payload) plus one row per
    page (page k, only that page's PNG). The check runs the container
    parse once per span; a failure there, or in any page, skips the
    span in the fan-in (_FAN_IN). The page count comes from the payload,
    so it is trusted only as far as the payload can hold that many
    pages; a span it does not fit, a %PDF stream and a missing payload
    stay one row (page NULL)."""
    return joined.selectExpr(
        "doc_id", "span_pos", "kind", "media_ref", "offset", f"inline({_PAGE_ROWS})"
    )


def _deal_by_cost(
    joined: DataFrame,
    n: int,
    cost: str = SPAN_COST_SQL,
    order: tuple[str, ...] = ("doc_id", "offset", "media_ref"),
) -> DataFrame:
    """Place rows on `n` partitions by estimated `cost`: inside each
    input partition, deal rows heaviest first in snake order (0..n-1,
    n-1..0, ...), starting at an offset of the input partition's id, so
    the heavy pages of one partition land on distinct tasks and the
    first picks of different partitions start on different tasks.

    Map-side: the rank is the row's position in its sorted partition
    (monotonically_increasing_id minus the partition id in its top
    bits), so there is no Window and no extra stage. The sort (cost,
    then the `order` columns, which must identify a row) makes the rank
    deterministic, so a recomputed partition deals identically.
    The rank is computed once, in its own projection: every occurrence
    of monotonically_increasing_id keeps its own counter and counts only
    the rows that evaluate it, so one inside a CASE branch would count
    that branch's rows only. The `span_slot` helper column is the last
    projection under the Exchange and rides into the UDF, which ignores
    it: a Project that dropped it would sit between the Exchange and
    MapInPandas."""
    pid = "spark_partition_id()"
    rank = f"monotonically_increasing_id() - shiftleft(CAST({pid} AS BIGINT), 33)"
    lap, pos = f"_rank div {n}", f"pmod(_rank, {n})"
    slot = f"CASE WHEN {lap} % 2 = 0 THEN {pos} ELSE {n - 1} - {pos} END"
    return (
        joined.sortWithinPartitions(F.expr(cost).desc(), *order)
        .selectExpr("*", f"{rank} AS _rank")
        .selectExpr("*", f"CAST(pmod({slot} + {pid}, {n}) AS INT) AS span_slot")
        .drop("_rank")
        .repartitionById(n, "span_slot")
    )


def _media_branch_fused(media_in: DataFrame, profile: EngineProfile) -> DataFrame:
    return media_in.mapInPandas(make_fused_extract(profile), S.SPAN_RESULT_SCHEMA)


# Kept importable for the benchmark's corpus writer
# (perfbench/workloads.py), which partitions its media table by this
# classification; the engine does not read it.
PDF_STAGED_MIN_PAGES = 8
PDF_STAGED_MIN_BYTES = 4 << 20
IMG_STAGED_MIN_PIXELS = 16_000_000
IMG_STAGED_MAX_DIM = 8192


def media_is_heavy(png: bytes | None, width: int, height: int) -> bool:
    """True for a payload a single task would straggle on: an SPDF of at
    least PDF_STAGED_MIN_PAGES pages, a pdf over PDF_STAGED_MIN_BYTES,
    or an image over IMG_STAGED_MIN_PIXELS pixels or IMG_STAGED_MAX_DIM
    on a side."""
    if png is not None and png[: len(_SPDF_MAGIC)] == _SPDF_MAGIC:
        n_pages = int.from_bytes(png[6:10], "big")
        if n_pages >= PDF_STAGED_MIN_PAGES or len(png) > PDF_STAGED_MIN_BYTES:
            return True
    elif png is not None and png[:5] == b"%PDF-":
        if len(png) > PDF_STAGED_MIN_BYTES:
            return True
    w, h = int(width or 0), int(height or 0)
    return w * h > IMG_STAGED_MIN_PIXELS or max(w, h) > IMG_STAGED_MAX_DIM


# The page fan-in per span (M7 page markers; core.fan_in_pages is the
# oracle's). A span's rows are either one whole-span row (page NULL:
# text, non-media, unfanned media and pdf spans), passed through, or a
# fanned-out pdf's container check (page -1) and its pages 0..n-1. One
# skipped row skips the span: text '' here, and the reassembly ignores
# a skipped span's confidence, steps and split method.
_FAN_IN_KEYS = ("doc_id", "span_pos", "kind", "media_ref", "offset")
_FAN_IN_AGGS = (
    "array_sort(collect_list(struct(page, text, confidence, steps_applied,"
    " split_method))) AS _rows",
    "bool_or(skipped) AS skipped",
    "sum(elapsed_ms) AS elapsed_ms",
)
# the first row (a whole span's only row, or a fanned-out span's
# check) and the page rows in page order, each computed once
_FAN_IN_ROWS = (
    *_FAN_IN_KEYS,
    "element_at(_rows, 1) AS _first",
    "filter(_rows, p -> p.page >= 0) AS _pages",
    "skipped",
    "elapsed_ms",
)
# marker pieces derive from core.PAGE_MARKER (the oracle's format), so
# an edit to the shared constant cannot silently desync the Catalyst
# fan-in from the single-process reference
_pre, _rest = PAGE_MARKER.split("{i}")
_mid, _post = _rest.split("{n}")
_pre, _mid, _post = map(sql_str, (_pre, _mid, _post + "\n"))
_MARKER = (
    f"concat({_pre}, CAST(p.page + 1 AS STRING), {_mid},"
    f" CAST(size(_pages) AS STRING), {_post}, p.text)"
)
_SEP = sql_str("\n\n")
_FAN_IN = (
    *_FAN_IN_KEYS,
    "CASE WHEN _first.page IS NULL THEN _first.text WHEN skipped THEN ''"
    f" ELSE array_join(transform(_pages, p -> {_MARKER}), {_SEP}) END AS text",
    "CASE WHEN _first.page IS NULL THEN _first.confidence WHEN size(_pages) > 0"
    " THEN aggregate(_pages, 0.0D, (acc, p) -> acc + p.confidence) / size(_pages)"
    " ELSE 0.0D END AS confidence",
    "CASE WHEN _first.page IS NULL THEN _first.steps_applied ELSE"
    " array_sort(array_distinct(flatten(transform(_pages, p -> p.steps_applied))))"
    " END AS steps_applied",
    "CASE WHEN _first.page IS NULL THEN _first.split_method WHEN size(_pages) > 0"
    " THEN array_join(array_sort(array_distinct(transform(_pages,"
    " p -> p.split_method))), ',') ELSE 'none' END AS split_method",
    "skipped",
    "elapsed_ms",
)

_OK_MEDIA = f"{_IS_MEDIA} AND NOT skipped"
# groupBy(doc_id) aggregates of reassemble, in METRICS_STRUCT order
# after the span list
_REASSEMBLE_AGGS = (
    "array_sort(collect_list(CASE WHEN kind IS NOT NULL"
    " THEN struct(offset, kind, text, media_ref) END)) AS _spans",
    "CAST(sum(CASE WHEN kind IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_spans",
    f"CAST(sum(coalesce(CAST({_IS_MEDIA} AS INT), 0)) AS INT) AS n_media",
    "CAST(sum(coalesce(CAST(kind = 'text' AS INT), 0)) AS INT) AS n_text",
    "CAST(sum(CAST(skipped AS INT)) AS INT) AS skipped",
    "array_sort(array_distinct(flatten(collect_list("
    f"CASE WHEN {_OK_MEDIA} THEN steps_applied END)))) AS steps_applied",
    "array_sort(array_distinct(collect_list("
    f"CASE WHEN {_OK_MEDIA} THEN split_method END))) AS split_methods",
    f"coalesce(avg(CASE WHEN {_OK_MEDIA} THEN confidence END), 0.0D) AS ocr_confidence",
    "sum(coalesce(elapsed_ms, 0)) AS elapsed_ms",
)


def reassemble(span_results: DataFrame, run_id: str, attempt: int,
               doc_partitions: int | None = None) -> DataFrame:
    """Page fan-in per span, then groupBy(doc_id) span-order reassembly +
    metrics (M7/M9) — pure Catalyst, after one explicit repartition by
    doc_id hash (north_rule) that both groupings reuse."""
    if doc_partitions:
        df = span_results.repartition(doc_partitions, "doc_id")
    else:
        df = span_results.repartition("doc_id")
    spans = (
        df.groupBy(*_FAN_IN_KEYS)
        .agg(*map(F.expr, _FAN_IN_AGGS))
        .selectExpr(*_FAN_IN_ROWS)
        .selectExpr(*_FAN_IN)
    )
    agg = spans.groupBy("doc_id").agg(*map(F.expr, _REASSEMBLE_AGGS))
    return agg.selectExpr(
        "doc_id",
        "transform(_spans, s -> struct(s.kind AS kind, s.text AS text,"
        " s.media_ref AS media_ref, s.offset AS offset)) AS spans",
        "struct(n_spans, n_media, n_text, skipped, steps_applied, split_methods,"
        " ocr_confidence, elapsed_ms) AS metrics",
        f"struct({sql_str(run_id)} AS run_id, spark_partition_id() AS partition_id,"
        f" {int(attempt)} AS attempt, current_timestamp() AS ts) AS lineage",
    )


def run_pipeline(
    spark: SparkSession,
    docs_df: DataFrame,
    media_df: DataFrame,
    profile: EngineProfile | str = "default",
    run_id: str = "run-0",
    attempt: int = 1,
    span_partitions: int | None = None,
    doc_partitions: int | None = None,
    docs_filter=None,
    max_payload_bytes: int | None = None,
    fidelity: str | None = None,
) -> DataFrame:
    """documents + media -> extracted (EXTRACTED_SCHEMA).

    docs_filter   — optional predicate (Column or SQL text) applied to
                    every scan of the documents table (the resume
                    bucket filter).
    fidelity      — overrides PreprocessConfig.fidelity on the resolved
                    profile ("fast" numpy stand-ins | "cv2" reference
                    algorithms, kernels.py cv2-fidelity section).

    The media branch's pruned scan (no spans.text) works for any docs_df
    source — see _media_span_rows; no parquet-path special case needed.
    """
    if isinstance(profile, str):
        profile = get_profile(profile)
    if fidelity is not None and fidelity != profile.preprocess.fidelity:
        from dataclasses import replace

        profile = replace(
            profile, preprocess=replace(profile.preprocess, fidelity=fidelity)
        )
    if docs_filter is not None:
        docs_df = docs_df.filter(docs_filter)
    # One task per core: _deal_by_cost evens the per-task pixel cost, so
    # more tasks only add per-task mapInPandas overhead. Measured on a
    # 4-vCPU host (perfbench media_mix, 54 media spans, one SparkSession, 5
    # interleaved passes, median wall for seeds 3 / 12): dealt 1/core
    # 6.27 / 5.91 s, dealt 2/core 6.03 / 5.86 s (a wash), (doc_id, offset)
    # hash 8/core 8.01 / 7.41 s, hash 1/core 8.79 / 8.00 s.
    span_partitions = span_partitions or spark.sparkContext.defaultParallelism
    media_in = _media_input(
        _media_span_rows(docs_df),
        media_df,
        span_partitions,
        max_payload_bytes,
    )
    media_out = _media_branch_fused(media_in, profile)
    union = _non_media_branch(_span_rows(docs_df)).unionByName(media_out)
    return reassemble(union, run_id, attempt, doc_partitions)
