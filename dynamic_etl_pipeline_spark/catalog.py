"""Fixture-table catalog: load the driver's parquet tables as DataFrames.

The reference stores records as JSON text blobs in a single SQLite table
(app.py:68-74); here the at-rest format is columnar parquet and reads go
through Spark's vectorized parquet reader, so predicate pushdown and
column pruning reach the scan for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale factor
# (region/nation are bounded; supplier/part/customer are bounded at the
# fixture SFs — at true 100 TB scale only region/nation stay broadcast-able
# and Catalyst's size-based threshold makes that call per-plan).
SMALL_DIMS = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def normalize_event_ts(df: DataFrame, ntz: bool = True) -> DataFrame:
    """Take ``ts`` to a microsecond timestamp; NTZ by default for oracle
    parity, ``ntz=False`` for TIMESTAMP (streaming watermarks reject NTZ).

    Fixture generations differ: ts can arrive as long nanos (when the
    parquet stores timestamp[ns], which session.RUNTIME_CONF reads via
    nanosAsLong) or as a native timestamp[us]. Branch on the read dtype
    so both layouts normalize identically; the integer DIV truncation
    matches DuckDB's ns->us conversion. Session tz is UTC, so naive
    values agree between the two flavors.
    """
    from pyspark.sql.types import LongType

    target = "timestamp_ntz" if ntz else "timestamp"
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts = F.col("ts")
    return df.withColumn("ts", ts.cast(target))


# Declared-schema cache (r12 optimization round): schemas are METADATA,
# and re-deriving them per read is pure planning overhead — measured
# 136 ms/call for spark.read.parquet(path) (footer fetch + merge) vs
# 26 ms with an explicit schema, ~0.1 s saved per load_table call at
# ANY scale. This is the production stance the bench ingest path
# already documents ("schemas are declared, not re-inferred per
# batch") applied to the fixture catalog: infer once, then declare.
# The key covers the newest mtime and the total size over the path
# and, for a directory table, every file under it (a part file
# rewritten in place leaves the directory's own mtime alone), and
# every session conf that changes what parquet schema inference
# reports — nanosAsLong (TIMESTAMP(NANOS) as LongType vs
# TimestampType), inferTimestampNTZ, binaryAsString, int96AsTimestamp —
# so sessions with different settings never share an entry.
_SCHEMA_CACHE: dict[tuple, "object"] = {}

_INFERENCE_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "false"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    ("spark.sql.parquet.binaryAsString", "false"),
    ("spark.sql.parquet.int96AsTimestamp", "true"),
)


def _schema_key(spark: SparkSession, path: str) -> tuple:
    import os

    try:
        stats = [os.stat(path)]
        for root, _, files in os.walk(path):
            stats += [os.stat(os.path.join(root, f)) for f in files]
        stamp = (max(st.st_mtime_ns for st in stats),
                 sum(st.st_size for st in stats))
    except OSError:
        # non-local path (hdfs/s3): conf-only key, so a remote table
        # gets no content-based invalidation
        stamp = None
    confs = tuple(
        spark.conf.get(c, default) for c, default in _INFERENCE_CONFS
    )
    return (path, stamp, confs)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    path = table_path(sf_dir, name)
    key = _schema_key(spark, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for spark.sql use.

    ``names`` limits registration to the tables a query actually
    references (r12 optimization round): each registration is a
    read+view round trip, and the SQL-facade queries were paying for
    all 10 tables to use 1-3 of them."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
