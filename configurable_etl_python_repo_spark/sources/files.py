"""File source helpers.

`read_parquet` is the one way the library scans parquet. Given no
schema, `spark.read.parquet` infers one with a Spark job that reads a
footer (~0.1 s of scheduling per scan, measured against ~0.02 s with the
schema given), and it runs while the query is still being BUILT. The
footer is constant-size metadata, so for local paths it is read on the
driver with pyarrow instead — the discipline `_store.sidecar_rows`
already applies to index sidecars — and the schema is handed to the
reader. Anything the footer path cannot reproduce exactly falls back to
Spark's own inference (see `footer_schema`).

`read_events` handles the driver fixture's nanosecond-precision parquet
timestamps: Spark's vectorized reader rejects TIMESTAMP(NANOS) columns, so
we flip the legacy nanos-as-long conf at runtime and rebuild a proper
microsecond timestamp with integer division (never float — int64 nanos
exceed double's 2^53 mantissa). A production deployment would simply write
micros; this keeps the engine correct on nanos inputs too.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructField, StructType,
)

from ..llm._store import _local_fs_path

#: session confs that change how Spark types a parquet footer, at the
#: values the footer path reproduces; any other value falls back
_INFERENCE_CONFS = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.mergeSchema": "false",
}
#: reader options that leave the inferred schema alone
_SAFE_OPTIONS = {"basepath"}
#: the footer key Spark writers store the exact row schema under; Spark's
#: own inference prefers it over converting the parquet schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _allowed_arrow_type(t) -> bool:
    """Arrow types whose `from_arrow_type` mapping is exactly the type
    Spark infers for the parquet column they were read from. NANOS
    timestamps (and INT96, which pyarrow reads as NANOS) are not."""
    import pyarrow.types as pat

    if pat.is_list(t):
        return _allowed_arrow_type(t.value_type)
    if pat.is_timestamp(t):
        return t.unit in ("ms", "us")
    return (
        pat.is_boolean(t) or pat.is_signed_integer(t) or pat.is_float32(t)
        or pat.is_float64(t) or pat.is_string(t) or pat.is_binary(t)
        or pat.is_date32(t) or pat.is_decimal128(t)
    )


def _nullable(dt: DataType) -> DataType:
    """Spark's `asNullable`: file sources read every field as nullable."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _first_data_file(path: str) -> "str | None":
    """The data file whose footer Spark would read for `path`: the path
    itself, or the first (sorted) data file under it, descending only
    into key=value partition directories. None when there is none, or
    when the tree holds something only Spark's listing should judge
    (summary files, a non-partition subdirectory)."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    names = sorted(os.listdir(path))
    if "_metadata" in names or "_common_metadata" in names:
        return None
    for name in names:
        # Spark's hidden-path rule (partition dirs may start with "_")
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        child = os.path.join(path, name)
        if os.path.isdir(child):
            if "=" not in name:
                return None
            found = _first_data_file(child)
            if found is not None:
                return found
        else:
            return child
    return None


def _local_data_file(paths: "tuple[str, ...]") -> "str | None":
    """First data file across local `paths`; None if any path is
    non-local or a glob, or no data file exists."""
    for path in paths:
        local = _local_fs_path(path)
        if local is None or any(c in local for c in "*?[{"):
            return None
    for path in paths:
        found = _first_data_file(_local_fs_path(path))
        if found is not None:
            return found
    return None


def footer_schema(
    spark: SparkSession, *paths: str, options: "dict | None" = None
) -> "StructType | None":
    """The schema `spark.read.options(**options).parquet(*paths)` would
    infer, read from one footer on the driver — or None, meaning "let
    Spark infer". Spark-written footers carry the exact row schema under
    `_SPARK_ROW_METADATA`; other footers map through `from_arrow_schema`
    when every column type is allowlisted. Partition columns are not in
    the footer; Spark infers them from the directory names on the driver
    either way. Falls back on: a non-local path or glob, no data file, an
    unlisted type (NANOS timestamps included), a reader option other than
    basePath, or a session conf that changes parquet type inference."""
    if any(k.lower() not in _SAFE_OPTIONS for k in options or {}):
        return None
    for key, value in _INFERENCE_CONFS.items():
        if spark.conf.get(key, value).lower() != value:
            return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    # any failure here means "let Spark infer": Spark then reads the same
    # tree and raises its own error for an unreadable one
    try:
        data_file = _local_data_file(paths)
        if data_file is None:
            return None
        meta = pq.read_metadata(data_file)
        spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
        if spark_json is not None:
            schema = StructType.fromJson(json.loads(spark_json))
        else:
            arrow = meta.schema.to_arrow_schema()
            if not all(_allowed_arrow_type(f.type) for f in arrow):
                return None
            schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except (OSError, ValueError, KeyError, TypeError):
        return None
    return _nullable(schema)


def read_parquet(
    spark: SparkSession, *paths: str, options: "dict | None" = None
) -> DataFrame:
    """`spark.read.options(**options).parquet(*paths)` without the
    schema-inference job whenever `footer_schema` can stand in for it."""
    reader = spark.read.options(**(options or {}))
    schema = footer_schema(spark, *paths, options=options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    # Spark's schema resolution itself rejects NANOS, so flip the conf up
    # front — but only when the footer path cannot resolve the schema (a
    # NANOS ts, a non-local path): the conf is session-wide and would
    # otherwise leak into every later read
    if footer_schema(spark, path) is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Parquet timestamp[us] with isAdjustedToUTC=false arrives as
        # TIMESTAMP_NTZ, which unix_micros() and withWatermark() reject.
        # The session timezone is pinned to UTC (session.py), so casting to
        # TIMESTAMP reinterprets the same wall-clock instant unambiguously.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
