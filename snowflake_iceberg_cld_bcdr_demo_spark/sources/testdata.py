"""Loaders for the driver-generated testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{...}/``.

Reads go through ``spark.read.parquet`` so Catalyst gets full pushdown:
column pruning and predicate pushdown reach the parquet scan
(``PushedFilters`` / ``ReadSchema`` in ``.explain``), which is the behavior
that matters at 100 TB — a filter on a partition-style column prunes row
groups via parquet min/max stats without any custom code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    ``events.parquet`` stores ``ts`` as parquet INT64 TIMESTAMP(NANOS),
    which Spark's reader rejects outright; read the raw nanos as long and
    truncate to microseconds exactly like DuckDB does on scan, emitting
    TIMESTAMP_NTZ (naive, timezone-independent) so both engines collect
    identical values.  The confs are session-level and runtime-settable, so
    this works under the driver's own SparkSession too.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read(spark, os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


#: file schema per (path, mtime_ns, size): a rewritten file gets a new key
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version: inference is a Spark job, paid on every call otherwise."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
