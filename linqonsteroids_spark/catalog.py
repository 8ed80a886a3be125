"""Table catalog: the engine's scan/source layer.

The reference lifts in-memory collections as leaf relations
(``ConstByIdentity``, ``traversableOps.scala:281-282``); our leaves are
parquet scans — declarative, so Catalyst gets predicate pushdown, column
pruning and partition pruning for free. At 100 TB the same call reads a
partitioned/bucketed table; nothing here materializes on the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
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
]

#: tables small enough to broadcast at ANY scale factor (dimension tables
#: bounded by schema: 5 regions, 25 nations).
BROADCAST_TABLES = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-tz TimestampType whatever the file
    shipped as. Generations of the testdata have stored it as parquet
    TIMESTAMP(NANOS) (Spark reads it as a raw long under the legacy
    ``nanosAsLong`` conf) and TIMESTAMP(MICROS) without UTC adjustment
    (Spark infers TIMESTAMP_NTZ). The session timezone is pinned to UTC
    (`session.py`), so the NTZ→TZ cast is wall-clock identity and both
    shapes land on the same values DuckDB reads. Works on batch and
    streaming DataFrames alike (dtype dispatch, no action triggered).
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division — (ts / 1000).cast would round-trip through double
        # and lose precision at 1.7e18 ns
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: catalog file schemas by (path, ``nanosAsLong``); testdata is read-only
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """One catalog table's parquet file schema, inferred (a Spark job)
    once per process; ``nanosAsLong`` changes how TIMESTAMP(NANOS) reads."""
    path = table_path(sf_dir, name)
    key = (path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (lazy parquet scan)."""
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One catalog table as a file stream. The file-stream source wants a
    directory, so it streams ``sf_dir`` glob-filtered to the table's file."""
    df = (
        spark.readStream.schema(table_schema(spark, sf_dir, name))
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(df) if name == "events" else df


#: schema a package writer stored beside its parquet files (the leading
#: underscore hides it from parquet listings)
SCHEMA_SIDECAR = "_schema.json"


def save_schema(path: str, schema: StructType) -> None:
    """Record the schema just written to the parquet directory ``path``."""
    with open(os.path.join(path, SCHEMA_SIDECAR), "w") as f:
        json.dump(schema.jsonValue(), f)


def saved_schema(path: str) -> StructType:
    """The schema :func:`save_schema` recorded for ``path``."""
    with open(os.path.join(path, SCHEMA_SIDECAR)) as f:
        return StructType.fromJson(json.load(f))


def read_saved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory with its recorded schema."""
    return spark.read.schema(saved_schema(path)).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
