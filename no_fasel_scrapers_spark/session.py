"""SparkSession factory with scale-oriented defaults.

Tuned for the crawl workload: AQE on (runtime coalescing + skew-join
splitting for mega-hosts), Arrow on (every extraction UDF is a pandas/Arrow
batch), shuffle partitions sized for the local harness but overridable for a
real cluster via normal --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[32]/128GiB; on a 1000-executor cluster the same
# code runs with spark.sql.shuffle.partitions≈2-3x total cores and
# maxPartitionBytes 256m — nothing here hard-codes local assumptions.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # let Python DataSources (sources/warc.py) receive pushed filters
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def _use_local_daemon(conf: dict[str, str]) -> None:
    """Workers forked from ``worker_daemon``, which keeps Spark's
    per-task import-cache invalidation from re-reading unchanged zip
    archives (README, "Why the engine starts its own Python daemon").
    The package root goes first on the workers' PYTHONPATH, ahead of any
    value already set, so the daemon imports from any working directory.
    A daemon module the caller set is kept.  Local masters only: a
    cluster's executors need not have the package at this path."""
    conf.setdefault(
        "spark.python.daemon.module", "no_fasel_scrapers_spark.worker_daemon"
    )
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, conf.get(key)) if p)


def get_spark(
    app_name: str = "no-fasel-scrapers-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the bench harness can pin parallelism (local[8] vs local[32]) for the
    scaling-efficiency evidence required by BASELINE.md.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        _use_local_daemon(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
