"""The extraction plan is built from SQL text, so building it costs few
py4j round trips: each Column-API call is one JVM round trip, while a
SQL string is parsed JVM-side in one."""

from __future__ import annotations

import threading

import pytest

from ocr_spark.spark.corpus import read_corpus
from ocr_spark.spark.pipeline import run_pipeline

# round trips of one run_pipeline build (span_partitions=4, fixture
# corpus) when the static expressions were built from Column calls,
# counted by _round_trips in a fresh session (first build). The SQL-text
# build counted 255.
COLUMN_BUILT = {"fused": 3150}


def _round_trips(spark, build) -> int:
    """py4j commands the calling thread sends while `build` runs (py4j's
    finalizer thread releases freed Java objects over the same client;
    those are not the build's)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = 0

    def counted(*args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return n


@pytest.mark.parametrize("mode", ["fused"])
def test_plan_build_round_trips(spark, corpus_dir, mode):
    docs, media = read_corpus(spark, corpus_dir)
    n = _round_trips(
        spark,
        lambda: run_pipeline(spark, docs, media, run_id="rt", span_partitions=4),
    )
    assert n <= COLUMN_BUILT["fused"] // 5, n
