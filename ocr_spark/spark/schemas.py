"""Declared schemas for the engine's tables (SURVEY.md §1.3).

Fixed and explicit — the reference encodes order in Python list positions
(/root/reference/app/ocr/splitting/base.py:72, app/worker/tasks.py:182);
here order is *data* (the `offset` field), never physical row order.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), nullable=False),
        T.StructField("png", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

# rows produced by the extraction branches, before the page fan-in and
# reassembly: `span_pos` is the span's index in `spans`, `page` is NULL
# for a whole span, -1 for a fanned-out pdf's container check and the
# 0-based page index for one of its pages
SPAN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_pos", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("steps_applied", T.ArrayType(T.StringType())),
        T.StructField("split_method", T.StringType()),
        T.StructField("skipped", T.BooleanType()),
        T.StructField("elapsed_ms", T.LongType()),
    ]
)

METRICS_STRUCT = T.StructType(
    [
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("n_media", T.IntegerType()),
        T.StructField("n_text", T.IntegerType()),
        T.StructField("skipped", T.IntegerType()),
        T.StructField("steps_applied", T.ArrayType(T.StringType())),
        T.StructField("split_methods", T.ArrayType(T.StringType())),
        T.StructField("ocr_confidence", T.DoubleType()),
        T.StructField("elapsed_ms", T.LongType()),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("metrics", METRICS_STRUCT),
        T.StructField(
            "lineage",
            T.StructType(
                [
                    T.StructField("run_id", T.StringType()),
                    T.StructField("partition_id", T.IntegerType()),
                    T.StructField("attempt", T.IntegerType()),
                    T.StructField("ts", T.TimestampType()),
                ]
            ),
        ),
    ]
)
