"""Driver-layer microbenchmark: milliseconds and py4j round trips to build
the extraction plan (`pipeline.run_pipeline`, no action).

Run it from the repository root (it is not part of the tests/ gate):

    python -m pytest benchmarks/test_plan_build_bench.py -p no:cacheprovider \
        --benchmark-json=BENCH/plan_build_bench.json

The plan is built over the fixture corpus (24 docs, one skew-monster
doc) read from parquet in the ingest layout, on a `local[4]`
SparkSession. Timings are 7 rounds after one warm-up round; read `min`
(ms per build). `extra_info.py4j_round_trips` is the number of py4j
commands one build sends from the calling thread.
"""

from __future__ import annotations

import threading

import pytest

from ocr_spark.spark.corpus import read_corpus, write_corpus_parquet
from ocr_spark.spark.pipeline import run_pipeline
from ocr_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("local[4]", app_name="plan-build-bench", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    write_corpus_parquet(d, n_docs=24, skew_monster_spans=12)
    return read_corpus(spark, d)


def _round_trips(spark, build) -> int:
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


def test_plan_build(benchmark, spark, tables):
    docs, media = tables

    def build():
        run_pipeline(spark, docs, media, run_id="bench", span_partitions=4)

    benchmark.extra_info["py4j_round_trips"] = _round_trips(spark, build)
    benchmark.pedantic(build, rounds=7, warmup_rounds=1)
