"""SparkSession construction tuned for the wikification workload.

Design notes (100 TB target, tested on local[32]):
- AQE on everywhere: runtime coalescing of shuffle partitions, skew-join
  splitting (mega-repos / head entities per SURVEY.md §4), and dynamic
  broadcast-join demotion/promotion.
- Arrow on for every pandas-UDF exchange; batch size capped so a candidate
  fan-out of millions of rows per executor never materializes one giant
  pandas frame (reference scaler was fit on ~2M candidate rows).
- shuffle.partitions defaults to cores in local mode; on a real cluster the
  job submitter should set it to ~2-3x total cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pin BLAS pools before any numpy import in the Python workers: each of
# the N pandas-UDF workers would otherwise spawn ncpu BLAS threads
# (N×ncpu threads on one box — pure contention for the small per-batch
# matmuls/kernels this engine runs). Workers inherit the driver env in
# local mode; on a cluster set these via spark.executorEnv.*.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def default_parallelism() -> int:
    """SPARK_GRAFT_CPUS, else this host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "wikidata-wikifier-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # HotSpot refuses to JIT-compile methods over ~8KB of bytecode
        # (DontCompileHugeMethods, on by default) and runs them in the
        # bytecode interpreter FOREVER. Whole-stage codegen for wide
        # expressions — the unrolled 64-dim cosine chains, the 60-bit
        # simhash signature sum — lands exactly there: measured 14s/run
        # interpreted vs 0.5s JIT-compiled for the ann pair stage at
        # sf1.0. Generated code is hot by construction, so compiling huge
        # methods is the right trade on any deployment; both driver and
        # executor flavors so a real cluster behaves like local mode.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
