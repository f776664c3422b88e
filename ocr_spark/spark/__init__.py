"""Distributed (PySpark) surface of the extraction engine.

Decomposes the single-process flow in ocr_spark.core into Arrow-batched
DataFrame stages (SURVEY.md §3.4): explode spans -> kind branches ->
vectorized pandas UDFs for the image work, pure Catalyst expressions for
the text branch -> cost-dealt repartition of the media rows
(pipeline._deal_by_cost) -> groupBy(doc_id) reassembly -> bucketed,
resumable writes with lineage + metrics.
"""

from ocr_spark.spark.pipeline import run_pipeline  # noqa: F401
from ocr_spark.spark.session import get_spark  # noqa: F401
