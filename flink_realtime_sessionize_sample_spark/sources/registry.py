"""Table registry over the driver-generated parquet test data.

The reference reads exactly one input shape — UTF-8 access-log lines from
Kafka or a local file (``RealtimeSessionize.scala:92-113``). The rebuild is
schema-on-read over columnar parquet: every query takes an ``sf_dir`` and
loads what it needs, so Catalyst gets predicate pushdown and column pruning
against the parquet scans for free.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The parquet-inference confs a session can change; their values are part
# of the schema-cache key.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# absolute path -> (file version + inference confs, inferred schema); one
# entry per path, so the cache is bounded by the number of table files.
# Process-wide on purpose: the key holds everything inference depends on,
# so every session and caller may share an entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring each file's schema once.

    Schema inference runs a Spark job even for one local file (it reads
    the footer inside a parallelized task). A later load of the same
    unchanged regular local file, under the same inference confs, passes
    the stored schema to ``spark.read.schema`` instead, which runs no job.
    The key is the file's size, mtime and inode plus ``_INFER_CONFS``; a
    path that is not a regular local file (a directory, a URI) infers on
    every load."""
    full = os.path.abspath(path)
    try:
        st = os.stat(full)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (st.st_size, st.st_mtime_ns, st.st_ino) + tuple(
        spark.conf.get(k) for k in _INFER_CONFS
    )
    hit = _SCHEMAS.get(full)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[full] = (key, df.schema)
    return df


def read_normalized(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """Run ``read`` (a batch or streaming parquet read) under the pinned
    timestamp confs and normalize its ``ts`` column to TimestampType.

    events.ts arrived as parquet TIMESTAMP(NANOS) in earlier testdata
    generations (Spark has no nanos type and refuses the file unless nanos
    surface as LongType) and as naive TIMESTAMP(MICROS) in the current one
    (which Spark would otherwise infer as TIMESTAMP_NTZ — a type
    ``unix_micros``/watermarks reject). The confs are runtime-set so they
    hold even under a caller-provided SparkSession (the driver builds its
    own), and so column types never depend on table-load order. Session tz
    is pinned UTC, so naive micros read as LTZ are value-identical to
    DuckDB's naive interpretation in every tz-dependent expression."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read()
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        # Defensive: schema captured before the conf took effect.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif ts_type == "bigint":
        # Epoch nanos → micros (exactly DuckDB's ns→us truncation); integer
        # `div` keeps the math exact (epoch nanos exceed double's 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return read_normalized(spark, lambda: _read_parquet(spark, f"{sf_dir}/{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
