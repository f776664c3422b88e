"""The distributed extraction plan (SURVEY.md §3.4).

    read documents (+ media join)            [scan, column pruning]
    explode_outer(spans) -> branch on kind   [Filter/Project]
      text:  Catalyst boilerplate expression [zero Python]
      media/pdf: join media -> cost-dealt repartition
                 -> fused OR staged Arrow UDF stages
    union branches
    repartition(doc_id)                      [explicit, north_rule]
    groupBy(doc_id) reassembly agg           [pure Catalyst]

Skew: heavy docs never pin a task because parallelism is at span (fused)
or chunk (staged) granularity. Media spans are dealt to one partition
per core by an estimated pixel cost read from the payload header
(_deal_by_cost): heaviest first, in snake order, so a skew-monster doc's
big pages land on distinct tasks. Reassembly regroups by pure doc_id
hash; collect_list of small text structs is cheap even for a 500-span
doc, and Spark's partial (ObjectHashAggregate) pre-merge runs map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import EngineProfile, get_profile
from ocr_spark.core import PAGE_MARKER
from ocr_spark.spark import schemas as S
from ocr_spark.spark.stages import (
    make_extract_stage,
    make_fused_extract,
    make_merge_group,
    make_pdf_fanout,
    make_split_stage,
)
from ocr_spark.spark.text_branch import main_content_col

MEDIA_KINDS = ("media", "pdf")


def _span_rows(docs_df: DataFrame) -> DataFrame:
    """explode_outer keeps empty-spans docs as a null-kind row so the doc
    still appears in the output with spans=[] (FIXTURES.md edge case)."""
    return docs_df.select(
        "doc_id", F.explode_outer("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _finish_branch(df: DataFrame) -> DataFrame:
    cols = [f.name for f in S.SPAN_RESULT_SCHEMA.fields]
    return df.select(*cols)


def _non_media_branch(spans: DataFrame) -> DataFrame:
    """Text spans (boilerplate strip, entirely JVM-side), unknown kinds
    (counted skips, core.py else-branch), and the null-kind rows that
    keep empty-spans docs alive — one scan, one Filter+Project."""
    is_text = F.col("kind") == "text"
    return _finish_branch(
        spans.filter(F.col("kind").isNull() | ~F.col("kind").isin(*MEDIA_KINDS))
        .select(
            "doc_id",
            "kind",
            F.when(is_text, main_content_col(F.col("text")))
            .when(F.col("kind").isNotNull(), F.lit(""))
            .alias("text"),
            "media_ref",
            "offset",
            F.lit(0.0).alias("confidence"),
            F.array().cast("array<string>").alias("steps_applied"),
            F.when(F.col("kind").isNotNull(), F.lit("none")).alias("split_method"),
            (F.col("kind").isNotNull() & ~is_text).alias("skipped"),
            F.lit(0).cast("long").alias("elapsed_ms"),
        )
    )


def _media_span_rows(docs_df: DataFrame) -> DataFrame:
    """Span rows for the media branch, WITHOUT the text payload.

    Catalyst's generator pruning only handles single-field explodes, so
    a plain `explode(spans)` here would read the whole text corpus a
    second time. `arrays_zip` over direct field extracts
    (GetArrayStructFields) IS covered by the nested SchemaPruning rule,
    so zipping (kind, media_ref, offset) and exploding the zipped array
    prunes `spans.text` out of the scan for ANY source — parquet paths,
    temp views, and catalog (Iceberg) tables alike (VERDICT r2 #1; the
    r2 build special-cased parquet paths with a pruned re-scan and left
    the production `table:` inputs reading text twice)."""
    zipped = docs_df.select(
        "doc_id",
        F.arrays_zip(
            F.col("spans.kind").alias("kind"),
            F.col("spans.media_ref").alias("media_ref"),
            F.col("spans.offset").alias("offset"),
        ).alias("spans"),
    )
    return zipped.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _media_input(
    media_spans: DataFrame,
    media_df: DataFrame,
    broadcast_media: bool | None,
    span_partitions: int | None,
    max_payload_bytes: int | None = None,
    with_dims: bool = False,
    how: str = "left",
) -> DataFrame:
    dim_cols = ["width", "height"] if with_dims else []
    m = media_df.select("media_ref", "png", *dim_cols)
    if max_payload_bytes:
        # oversize-payload guard (file_validation.py:149-162): nulling the
        # payload turns the span into a counted skip, never an exception
        m = m.select(
            "media_ref",
            F.when(F.length("png") <= max_payload_bytes, F.col("png")).alias("png"),
            *dim_cols,
        )
    if broadcast_media:
        m = F.broadcast(m)
    joined = (
        media_spans.filter(F.col("kind").isin(*MEDIA_KINDS))
        .join(m, "media_ref", how)
        .select("doc_id", "kind", "media_ref", "offset", "png", *dim_cols)
    )
    # Explicit partition count — AQE coalesces by *bytes*, but this stage's
    # cost is compute per image, so byte-based coalescing recreates skew.
    # span_partitions=None opts INTO AQE coalescing — right when row count
    # is data-dependent and possibly tiny (the hybrid heavy branch), where
    # fixed counts schedule hundreds of empty tasks.
    if span_partitions:
        return _deal_by_cost(joined, span_partitions)
    return joined.repartition("doc_id", "offset")


def _be_u32(pos: int) -> "F.Column":
    """Big-endian u32 at 1-based byte `pos` of the payload, as a double
    (hex the 4-byte slice, conv base16 -> base10). A payload too short
    for the slice reads as NULL."""
    word = F.expr(f"substring(png, {pos}, 4)")
    return F.when(F.length(word) == 4, F.conv(F.hex(word), 16, 10).cast("double"))


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_SPDF_MAGIC = b"SPDF1\n"
# SPDF pages are 72-dpi bases rendered at 300 dpi (pdfio.render_pages)
_PDF_RENDER_AREA = (300 / 72) ** 2


def _span_cost_col() -> "F.Column":
    """Estimated extraction cost of a media span, in rendered pixels,
    read from the payload header in pure Catalyst (no scan beyond the
    `png` column the join already reads):

    * PNG: IHDR width x height (bytes 17-24);
    * SPDF: page count x first-page IHDR pixels x the 300-dpi zoom area
      (the first page PNG starts at byte 15, so its IHDR at byte 31);
    * anything else (missing payloads, %PDF streams, garbage): 0 — these
      are skips or fitz-bound payloads with no header to read.

    Pixels track the per-span work well: a ~2.3 MP page takes 1-2 s, a
    2-3 page pdf 0.6-0.9 s and a 0.2 MP page 50-150 ms on a 4-vCPU host."""
    head = F.expr("substring(png, 1, 8)")
    cost = F.when(head == F.lit(_PNG_SIG), _be_u32(17) * _be_u32(21)).when(
        F.expr("substring(png, 1, 6)") == F.lit(_SPDF_MAGIC),
        _be_u32(7) * _be_u32(31) * _be_u32(35) * F.lit(_PDF_RENDER_AREA),
    )
    return F.coalesce(cost, F.lit(0.0))


def _deal_by_cost(joined: DataFrame, n: int) -> DataFrame:
    """Place media spans on `n` partitions by estimated cost: inside each
    input partition, deal spans heaviest first in snake order (0..n-1,
    n-1..0, ...), starting at an offset of the input partition's id, so
    the heavy pages of one partition land on distinct tasks and the
    first picks of different partitions start on different tasks.

    Map-side: the rank is the row's position in its sorted partition
    (monotonically_increasing_id minus the partition id in its top
    bits), so there is no Window and no extra stage. The sort makes the
    rank deterministic, so a recomputed partition deals identically.
    The `span_slot` helper column is the last projection under the
    Exchange and rides into the UDF, which ignores it: a Project that
    dropped it would sit between the Exchange and MapInPandas."""
    pid = F.spark_partition_id().cast("long")
    rank = F.monotonically_increasing_id() - F.shiftleft(pid, 33)
    lap, pos = F.floor(rank / n), F.pmod(rank, F.lit(n))
    slot = F.when(lap % 2 == 0, pos).otherwise(n - 1 - pos)
    return (
        joined.sortWithinPartitions(
            F.desc(_span_cost_col()), "doc_id", "offset", "media_ref"
        )
        .withColumn("span_slot", F.pmod(slot + pid, F.lit(n)).cast("int"))
        .repartitionById(n, "span_slot")
    )


def _media_branch_fused(media_in: DataFrame, profile: EngineProfile) -> DataFrame:
    out = media_in.mapInPandas(make_fused_extract(profile), S.SPAN_RESULT_SCHEMA)
    return _finish_branch(out)


def _media_branch_staged(
    media_in: DataFrame,
    profile: EngineProfile,
    chunk_partitions: int | None,
    chunk_codec: str = "raw",
) -> DataFrame:
    # ONE consumption of media_in: make_pdf_fanout renders pdf spans to
    # per-page rows and passes non-pdf spans through as single pages.
    # (A Catalyst projection for the non-pdf rows would skip their Arrow
    # hop, but as a second consumer of media_in it re-executes the whole
    # scan+join+salt-shuffle subtree — filters push below the Exchange,
    # the subtrees stop being identical, and ReuseExchange can't dedupe:
    # measured, the extra full media scan costs more than the hop.)
    pages = media_in.mapInPandas(make_pdf_fanout(profile), S.PAGE_SCHEMA)
    chunks = pages.mapInPandas(
        make_split_stage(profile, chunk_codec), S.CHUNK_SCHEMA
    )
    # chunk-level rebalance: a 16-chunk page / 500-page pdf spreads out
    # (None -> AQE-coalesced, for data-dependent chunk volumes)
    if chunk_partitions:
        chunks = chunks.repartition(
            chunk_partitions, "doc_id", "offset", "page_idx", "row", "col"
        )
    else:
        chunks = chunks.repartition(
            "doc_id", "offset", "page_idx", "row", "col"
        )
    chunk_texts = chunks.mapInPandas(
        make_extract_stage(profile, chunk_codec), S.CHUNK_TEXT_SCHEMA
    )
    page_texts = chunk_texts.groupBy("doc_id", "offset", "page_idx").applyInPandas(
        make_merge_group(profile), S.PAGE_TEXT_SCHEMA
    )

    # page fan-in per span (M7 page markers) — pure Catalyst
    pages_agg = page_texts.groupBy("doc_id", "offset", "kind", "media_ref").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("page_idx").alias("page_idx"),
                    F.col("n_pages").alias("n_pages"),
                    F.col("text").alias("text"),
                    F.col("confidence").alias("confidence"),
                    F.col("steps_applied").alias("steps_applied"),
                    F.col("split_method").alias("split_method"),
                )
            )
        ).alias("pages"),
        F.max(F.col("skipped").cast("int")).alias("any_skipped"),
    )
    real = F.filter(F.col("pages"), lambda p: p["page_idx"] >= 0)
    # marker pieces derive from core.PAGE_MARKER (the oracle's format),
    # so an edit to the shared constant cannot silently desync the
    # Catalyst fan-in from the single-process reference
    _pre, _rest = PAGE_MARKER.split("{i}")
    _mid, _post = _rest.split("{n}")
    page_text = F.when(
        F.col("kind") == "pdf",
        F.array_join(
            F.transform(
                real,
                lambda p: F.concat(
                    F.lit(_pre),
                    (p["page_idx"] + 1).cast("string"),
                    F.lit(_mid),
                    p["n_pages"].cast("string"),
                    F.lit(_post + "\n"),
                    p["text"],
                ),
            ),
            "\n\n",
        ),
    ).otherwise(F.element_at(F.col("pages"), 1)["text"])
    conf = F.when(
        F.size(real) > 0,
        F.aggregate(real, F.lit(0.0), lambda acc, p: acc + p["confidence"])
        / F.size(real),
    ).otherwise(F.lit(0.0))
    steps = F.array_sort(
        F.array_distinct(F.flatten(F.transform(real, lambda p: p["steps_applied"])))
    )
    method = F.when(
        F.col("kind") == "pdf",
        F.when(
            F.size(real) > 0,
            F.array_join(
                F.array_sort(
                    F.array_distinct(F.transform(real, lambda p: p["split_method"]))
                ),
                ",",
            ),
        ).otherwise(F.lit("none")),
    ).otherwise(F.element_at(F.col("pages"), 1)["split_method"])

    out = pages_agg.select(
        "doc_id",
        "kind",
        page_text.alias("text"),
        "media_ref",
        "offset",
        conf.alias("confidence"),
        steps.alias("steps_applied"),
        method.alias("split_method"),
        (F.col("any_skipped") > 0).alias("skipped"),
        F.lit(0).cast("long").alias("elapsed_ms"),
    )
    return _finish_branch(out)


# hybrid routing thresholds: the staged path pays a second media
# scan+join plus a raw-bytes chunk shuffle, so it must only take spans
# whose SINGLE-TASK cost would pin an executor (a straggler), not every
# page that merely triggers the in-task splitter. Measured on the
# 240-doc suite corpus (local[32]): staged over just the >2 MP pages
# costs 19.7 s while fused over the WHOLE corpus costs 11.8 s — the
# splitter trigger (2 MP) routed ~2 s spans to a path whose overhead
# only amortizes on ~10x bigger spans. A 2 MP page extracts in-task in
# ~1-3 s; the fan-out pays off around >=16 MP pages (~10x median task)
# or >=8-page / multi-MB pdfs (the 500-page skew monster of the design
# point).
PDF_STAGED_MIN_PAGES = 8
PDF_STAGED_MIN_BYTES = 4 << 20
IMG_STAGED_MIN_PIXELS = 16_000_000
IMG_STAGED_MAX_DIM = 8192


def media_is_heavy(png: bytes | None, width: int, height: int) -> bool:
    """Python twin of the hybrid routing predicate — used by the ingest
    layout (corpus.write_corpus_parquet) to materialize `heavy` as a
    partition column. Any classification is semantics-preserving (both
    branches are oracle-equal); agreement with the Catalyst predicate
    just keeps layout-routed and content-routed runs comparable."""
    if png is not None and png[: len(_SPDF_MAGIC)] == _SPDF_MAGIC:
        n_pages = int.from_bytes(png[6:10], "big")
        if n_pages >= PDF_STAGED_MIN_PAGES or len(png) > PDF_STAGED_MIN_BYTES:
            return True
    elif png is not None and png[:5] == b"%PDF-":
        # real-PDF payloads: the size test must run here too, or a
        # multi-MB %PDF straggler classifies heavy=0 at ingest while the
        # content-routed predicate sends it staged — the twin would stop
        # being a twin. (Page count needs a full header walk — the size
        # bound alone catches the stragglers the fan-out exists for.)
        if len(png) > PDF_STAGED_MIN_BYTES:
            return True
    w, h = int(width or 0), int(height or 0)
    return w * h > IMG_STAGED_MIN_PIXELS or max(w, h) > IMG_STAGED_MAX_DIM


def _pdf_page_count_col() -> "F.Column":
    """SPDF page count parsed from the container header with pure
    Catalyst (bytes 7-10, big-endian u32 — pdfio.encode_pdf). NULL for
    non-SPDF payloads."""
    is_spdf = F.expr("substring(png, 1, 6)") == F.lit(_SPDF_MAGIC)
    return F.when(is_spdf, _be_u32(7).cast("long"))


def _media_branch_hybrid(
    media_in: DataFrame,
    profile: EngineProfile,
    chunk_partitions: int | None,
    chunk_codec: str = "raw",
) -> DataFrame:
    """Route by estimated per-span work: spans that will split, or pdfs
    whose page count x size makes one task a straggler, take the staged
    chunk-level path; everything else (including small few-page pdfs)
    takes the fused path. Any routing is semantics-preserving (both
    paths are oracle-equal); this one puts the staged overhead only
    where its skew-defeating fan-out pays."""
    pdf_heavy = (F.col("kind") == "pdf") & (
        (_pdf_page_count_col() >= PDF_STAGED_MIN_PAGES)
        | (F.length("png") > PDF_STAGED_MIN_BYTES)
    )
    heavy = (
        pdf_heavy
        | (F.col("width").cast("long") * F.col("height") > IMG_STAGED_MIN_PIXELS)
        | (F.greatest("width", "height") > IMG_STAGED_MAX_DIM)
    )
    base = ["doc_id", "kind", "media_ref", "offset", "png"]
    small = media_in.filter(~F.coalesce(heavy, F.lit(False))).select(*base)
    big = media_in.filter(F.coalesce(heavy, F.lit(False))).select(*base)
    return _media_branch_fused(small, profile).unionByName(
        _media_branch_staged(big, profile, chunk_partitions, chunk_codec)
    )


def _media_branch_hybrid_pruned(
    media_spans: DataFrame,
    media_df: DataFrame,
    profile: EngineProfile,
    chunk_codec: str,
    broadcast_media: bool | None,
    span_partitions: int | None,
    max_payload_bytes: int | None,
) -> DataFrame:
    """Hybrid over the ingest-materialized `heavy` media partition
    column: three branches, each scanning only its own bytes.

    * light spans: inner-join the `heavy=0` partition (pruned scan) ->
      fused UDF.
    * heavy spans: inner-join the `heavy=1` partition (pruned scan) ->
      staged fan-out.
    * missing refs: payload-free anti-join (reads only media_ref) ->
      counted-skip rows in pure Catalyst, exactly the rows the fused UDF
      would emit for a null payload.

    Unlike the content-routed fallback (below), the dominant media PNG
    bytes are read exactly ONCE across branches — the two-branch plan's
    structural extra scan is gone, so hybrid ~= fused on corpora with no
    stragglers while keeping the fan-out where it pays."""
    spans_m = media_spans.filter(F.col("kind").isin(*MEDIA_KINDS))
    # NULL-inclusive light filter: a user-supplied media table may carry
    # NULL in `heavy` (our ingest never does — it's a partition column).
    # Plain heavy==0 and heavy==1 would BOTH drop such rows, and the
    # anti-join can't catch them (the ref exists) — the span would vanish
    # from the output. isNull on a partition column is still a partition
    # filter, so the pruned layout pays nothing for the disjunct.
    light_in = _media_input(
        spans_m,
        media_df.filter((F.col("heavy") == 0) | F.col("heavy").isNull()),
        broadcast_media,
        span_partitions,
        max_payload_bytes,
        how="inner",
    )
    # heavy branch: row count is data-dependent (often zero) and each row
    # is payload-dominated, so AQE byte-coalescing both balances compute
    # AND collapses the empty case to ~no tasks — explicit counts here
    # scheduled hundreds of empty tasks (measured: 4 s for 0 rows)
    heavy_in = _media_input(
        spans_m,
        media_df.filter(F.col("heavy") == 1),
        broadcast_media,
        None,
        max_payload_bytes,
        how="inner",
    )
    missing = spans_m.join(media_df.select("media_ref"), "media_ref", "left_anti")
    miss_out = _finish_branch(
        missing.select(
            "doc_id",
            "kind",
            F.lit("").alias("text"),
            "media_ref",
            "offset",
            F.lit(0.0).alias("confidence"),
            F.array().cast("array<string>").alias("steps_applied"),
            F.lit("none").alias("split_method"),
            F.lit(True).alias("skipped"),
            F.lit(0).cast("long").alias("elapsed_ms"),
        )
    )
    return (
        _media_branch_fused(light_in, profile)
        .unionByName(
            _media_branch_staged(heavy_in, profile, None, chunk_codec)
        )
        .unionByName(miss_out)
    )


def reassemble(span_results: DataFrame, run_id: str, attempt: int,
               doc_partitions: int | None = None) -> DataFrame:
    """groupBy(doc_id) span-order reassembly + metrics (M7/M9) — pure
    Catalyst, after an explicit repartition by doc_id hash (north_rule)."""
    if doc_partitions:
        df = span_results.repartition(doc_partitions, "doc_id")
    else:
        df = span_results.repartition("doc_id")

    is_media = F.col("kind").isin(*MEDIA_KINDS)
    ok_media = is_media & ~F.col("skipped")
    agg = df.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("kind").isNotNull(),
                    F.struct(
                        F.col("offset").alias("offset"),
                        F.col("kind").alias("kind"),
                        F.col("text").alias("text"),
                        F.col("media_ref").alias("media_ref"),
                    ),
                )
            )
        ).alias("_spans"),
        F.sum(F.when(F.col("kind").isNotNull(), 1).otherwise(0))
        .cast("int")
        .alias("n_spans"),
        F.sum(F.coalesce(is_media.cast("int"), F.lit(0)))
        .cast("int")
        .alias("n_media"),
        F.sum(F.coalesce((F.col("kind") == "text").cast("int"), F.lit(0)))
        .cast("int")
        .alias("n_text"),
        F.sum(F.col("skipped").cast("int")).cast("int").alias("skipped"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.when(ok_media, F.col("steps_applied")))
                )
            )
        ).alias("steps_applied"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(ok_media, F.col("split_method")))
            )
        ).alias("split_methods"),
        F.coalesce(
            F.avg(F.when(ok_media, F.col("confidence"))), F.lit(0.0)
        ).alias("ocr_confidence"),
        F.sum(F.coalesce(F.col("elapsed_ms"), F.lit(0))).alias("elapsed_ms"),
    )
    return agg.select(
        "doc_id",
        F.transform(
            "_spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
        F.struct(
            F.col("n_spans").alias("n_spans"),
            F.col("n_media").alias("n_media"),
            F.col("n_text").alias("n_text"),
            F.col("skipped").alias("skipped"),
            F.col("steps_applied").alias("steps_applied"),
            F.col("split_methods").alias("split_methods"),
            F.col("ocr_confidence").alias("ocr_confidence"),
            F.col("elapsed_ms").alias("elapsed_ms"),
        ).alias("metrics"),
        F.struct(
            F.lit(run_id).alias("run_id"),
            F.spark_partition_id().alias("partition_id"),
            F.lit(attempt).alias("attempt"),
            F.current_timestamp().alias("ts"),
        ).alias("lineage"),
    )


def run_pipeline(
    spark: SparkSession,
    docs_df: DataFrame,
    media_df: DataFrame,
    profile: EngineProfile | str = "default",
    mode: str = "fused",
    run_id: str = "run-0",
    attempt: int = 1,
    span_partitions: int | None = None,
    chunk_partitions: int | None = None,
    doc_partitions: int | None = None,
    broadcast_media: bool | None = None,
    docs_filter=None,
    max_payload_bytes: int | None = None,
    chunk_codec: str = "raw",
    fidelity: str | None = None,
) -> DataFrame:
    """documents + media -> extracted (EXTRACTED_SCHEMA).

    mode='fused'  — one Arrow stage per span (fewest shuffles).
    mode='staged' — pdf/split/extract/merge stages with chunk-level
                    rebalance (heavy-doc skew path).
    docs_filter   — optional Column predicate applied to every scan of
                    the documents table (the resume bucket filter).
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
    # One span task per core: _deal_by_cost evens the per-task pixel cost,
    # so more tasks only add per-task mapInPandas overhead. Measured on a
    # 4-vCPU host (perfbench media_mix, 54 media spans, one SparkSession, 5
    # interleaved passes, median wall for seeds 3 / 12): dealt 1/core
    # 6.27 / 5.91 s, dealt 2/core 6.03 / 5.86 s (a wash), (doc_id, offset)
    # hash 8/core 8.01 / 7.41 s, hash 1/core 8.79 / 8.00 s.
    span_partitions = span_partitions or spark.sparkContext.defaultParallelism
    # chunk rows are already finer-grained than spans; 2x parallelism
    # balances without paying extra scheduling waves
    chunk_partitions = chunk_partitions or spark.sparkContext.defaultParallelism * 2
    spans = _span_rows(docs_df)
    media_spans = _media_span_rows(docs_df)
    if mode == "hybrid" and "heavy" in media_df.columns:
        # ingest layout carries the routing column: three-way plan with
        # partition-pruned media scans (see _media_branch_hybrid_pruned)
        media_out = _media_branch_hybrid_pruned(
            media_spans,
            media_df,
            profile,
            chunk_codec,
            broadcast_media,
            span_partitions,
            max_payload_bytes,
        )
    else:
        media_in = _media_input(
            media_spans,
            media_df,
            broadcast_media,
            span_partitions,
            max_payload_bytes,
            with_dims=(mode == "hybrid"),
        )
        if mode == "fused":
            media_out = _media_branch_fused(media_in, profile)
        elif mode == "staged":
            media_out = _media_branch_staged(
                media_in, profile, chunk_partitions, chunk_codec
            )
        elif mode == "hybrid":
            media_out = _media_branch_hybrid(
                media_in, profile, chunk_partitions, chunk_codec
            )
        else:
            raise ValueError(f"unknown mode: {mode}")
    union = _non_media_branch(spans).unionByName(media_out)
    return reassemble(union, run_id, attempt, doc_partitions)
