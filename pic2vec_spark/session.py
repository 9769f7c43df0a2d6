"""SparkSession factory with scale-appropriate defaults.

All knobs here are chosen for the 100 TB design point and then scaled
down by ``parallelism`` for local runs:

- AQE on (runtime coalescing, skew-join splitting) — replaces hand
  tuning of shuffle partition counts at every scale factor.
- Arrow enabled with a bounded ``maxRecordsPerBatch`` (256 rows) so
  the decode + CNN pandas UDFs see batches that fit comfortably in
  worker memory: batches carry encoded image bytes, and the UDF decodes
  them into tensors in small CNN chunks.
- Python workers start from ``pic2vec_spark.daemon`` (the
  ``spark.python.daemon.module`` hook), a wrapper of Spark's own daemon
  that removes the per-task import-cache rescan and full GC, ~0.25 s
  of worker CPU per task on Python 3.11.  ``spark.executorEnv.PYTHONPATH``
  points workers at this package so the daemon starts from any working
  directory.  Only a local master set here gets it; cluster masters,
  a master left to spark-submit, and sessions built elsewhere keep
  Spark's stock daemon.
- Session timezone pinned to UTC so timestamps hash identically to the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Images per Arrow batch entering the decode/featurize UDFs.  At 100 TB
# this bounds Python-worker peak memory regardless of partition size.
ARROW_BATCH_ROWS = 256

# The directory holding ``pic2vec_spark``: Python workers need it on their
# path to start ``pic2vec_spark.daemon`` from any working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "pic2vec_spark",
    parallelism: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``parallelism`` controls ``local[N]`` and the shuffle-partition
    count; default is ``$SPARK_GRAFT_CPUS`` or all cores.
    """
    explicit_parallelism = parallelism is not None
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # One BLAS thread per Python worker: with N workers in flight, letting
    # OpenBLAS spawn N threads each (its default) oversubscribes N^2 ways
    # and collapses CNN throughput ~4x. Set in the driver env (inherited
    # by local-mode python workers) and executorEnv (cluster mode).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = SparkSession.builder.appName(app_name)
    # Respect an externally-provided master (spark-submit --master /
    # $SPARK_MASTER): hard-coding .master() here would override the
    # submit-time cluster master and silently run local on the driver
    # box.  Default to local[N] when nothing was provided.  An EXPLICIT
    # ``parallelism`` argument still forces local[N] — that is the
    # benchmark/test contract (and a stopped session can leave a stale
    # spark.master in the JVM system properties, which must not leak
    # into the next local session's core count).
    try:
        from pyspark import SparkConf

        external_master = SparkConf().contains("spark.master")
    except Exception:
        external_master = False
    # Precedence: an explicit ``parallelism`` argument wins over
    # $SPARK_MASTER — the documented benchmark/test contract above.
    # $SPARK_MASTER then wins over any stale JVM spark.master.
    if explicit_parallelism or not (os.environ.get("SPARK_MASTER") or external_master):
        master = f"local[{parallelism}]"
    else:
        master = os.environ.get("SPARK_MASTER")
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(max(parallelism, 8)))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # Local workers share the driver's file system, so they can start the
    # engine daemon from _PACKAGE_ROOT.  Cluster executors may not hold that
    # path, and a daemon that cannot start fails every Python UDF.
    if master and master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "pic2vec_spark.daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
