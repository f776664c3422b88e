"""SparkSession builder with the engine's scale-oriented defaults.

Settings are chosen for the 100 TB design point and scaled down for
local[...] testing:

* AQE on (runtime coalescing + skew-join splitting).
* Arrow batches capped small: one decoded page at the 2 MP split cap is
  ~6 MB of uint8 (SURVEY.md §7.7 hard part #4), so 64 PNGs/batch bounds a
  Python worker's peak at a few hundred MB.
* shuffle partitions sized to cores for local mode; a real cluster run
  overrides via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS = 64


# Large numpy temporaries (a 2 MP float64 plane is ~18 MB) must be reused,
# not munmap'd and re-faulted: glibc mmap's allocations above the threshold
# and returns them to the OS on free, which makes every big temp pay
# first-touch page faults again. Pinning the threshold at its 32 MiB max
# keeps image-sized buffers on the sbrk heap, faulted once per worker.
_MALLOC_ENV = {"MALLOC_MMAP_THRESHOLD_": str(32 * 1024 * 1024)}


def get_spark(
    master: str | None = None,
    app_name: str = "ocr-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    os.environ.update(_MALLOC_ENV)  # inherited by local-mode python workers
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        # PNG payloads compress poorly twice; lz4 is the cheap default
        .config("spark.io.compression.codec", "lz4")
        # amortize per-worker warmup (module imports, heap faults) across tasks
        .config("spark.python.worker.reuse", "true")
        .config(
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
            _MALLOC_ENV["MALLOC_MMAP_THRESHOLD_"],
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Tungsten page: every sort or hash-aggregate task allocates and
        # zero-fills at least one page on its first row, and the default
        # (heap / cores / 16, rounded up: 64 MB at 4g on 4 cores) made the
        # span deal's per-partition sort cost the JVM ~300 MB of RSS on a
        # 4-core run. A row larger than a page still gets a page of its own.
        .config("spark.buffer.pageSize", "2m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # modest heap: in this sandbox first-touch faults are ~5 MB/s, so
        # the tax is bounded by max heap actually touched — keep it small
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
