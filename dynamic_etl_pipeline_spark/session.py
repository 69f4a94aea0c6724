"""SparkSession construction and tuning.

Scale stance: these settings are chosen so the same plans that pass the
local[32] correctness gate survive a 1000-executor / 100 TB deployment:
AQE handles runtime re-planning (skew joins, partition coalescing),
shuffle partitions are sized for the local fixture scale but are the
single knob to raise for cluster scale, and Arrow is on so any
unavoidable Python stage is vectorized batch transfer, not row pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs (safe to apply to an externally provided session).
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r12 optimization round: let AQE rewrite a planned sort-merge join
    # to a shuffled-hash join when every post-shuffle partition of the
    # build side is under this many ACTUAL bytes (default 0 = never).
    # Runtime-size-gated, so it is scale-safe by construction — a
    # partition that fits in 64 MB builds a local hash map instead of
    # paying two sorts (string shingle keys made the sorts the wall in
    # the near-dup pair joins: 7-query heavy-join set 19.2 -> 16.3 s at
    # sf0.1, dedup_keep_best_exact -28%). The planner-side
    # preferSortMergeJoin flip was measured equivalent and NOT adopted:
    # it trusts size estimates, this trusts measured partition bytes.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # Local fixture scale: 32 matches local[32]; on a real cluster this
    # is raised to ~2-3x total cores (or left to AQE's initialPartitionNum).
    "spark.sql.shuffle.partitions": "32",
    # Deterministic timestamp semantics for DuckDB-oracle parity.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the engine's permissive-ingest semantics (reference
    # app.py:220-222 falls back instead of failing) want NULL-on-error casts.
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores ts as parquet TIMESTAMP(NANOS), which the
    # Spark reader rejects; read as long nanos and convert in the catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Confs that must be set at session build time.
BUILD_CONF = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.driver.maxResultSize": "4g",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. the driver's)."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # conf not runtime-settable in this deployment; keep going
    return spark


def get_spark(app_name: str = "dynamic-etl-pipeline-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    so tests and bench share one warm JVM.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # Executor Python workers don't inherit the driver's import path:
    # on a multi-process master (local-cluster sanity, a cluster submit
    # without --py-files) and on local[...] launched from any cwd but
    # the repo root, cloudpickled UDFs and Arrow kernels referencing
    # this package die with ModuleNotFoundError unless the repo root
    # rides along. A real deployment ships a wheel via --py-files;
    # executorEnv.PYTHONPATH is the single-host equivalent.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        f"{repo_root}{os.pathsep}{existing}" if existing else repo_root,
    )
    for key, value in {**BUILD_CONF, **RUNTIME_CONF}.items():
        builder = builder.config(key, value)
    return tune(builder.getOrCreate())
