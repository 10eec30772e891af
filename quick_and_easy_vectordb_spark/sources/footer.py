"""Scan schema from one parquet footer, read in the Python process.

``spark.read.parquet(path)`` runs a Spark job whose only work is to
infer the schema from a footer. ``parquet_schema`` reads that footer
itself with pyarrow (one file read, no job), so a read becomes
``spark.read.schema(parquet_schema(spark, path)).parquet(path)`` and
runs no job until it is executed. Nothing is memoised: the directory is
listed again on every call, so files appended or copied in by anyone
are always seen.

The footer is mapped to the schema Spark's own inference returns:

1. a Spark-written file carries Spark's schema in its key-value
   metadata (``org.apache.spark.sql.parquet.row.metadata``); inference
   returns it verbatim, and so does this;
2. otherwise the footer's Arrow schema is converted with
   ``prefer_timestamp_ntz=True`` (a timestamp not adjusted to UTC is
   ``timestamp_ntz`` to Spark);
3. any type whose parity with inference is not pinned by a test (INT96
   without Spark metadata, TIMESTAMP(NANOS), unsigned integers, and
   everything outside the list in ``_pinned``), and paths with no local
   data file (missing, empty, remote or glob) take the inferring read
   instead, so those cases behave, and fail, exactly as before.

Like inference, the result is nullable all the way down.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

__all__ = ["parquet_schema"]

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_PINNED_LEAVES = (
    pat.is_boolean,
    pat.is_signed_integer,
    pat.is_float32,
    pat.is_float64,
    pat.is_decimal128,
    pat.is_string,
    pat.is_large_string,
    pat.is_binary,
    pat.is_large_binary,
    pat.is_date32,
)


def parquet_schema(spark: SparkSession, *paths: str) -> T.StructType:
    """The schema ``spark.read.parquet(*paths)`` would infer, taken from
    the footer of the first data file (see the module docstring for the
    mapping and the fallback). Partition columns are not included; the
    reader appends them as usual."""
    schema = _footer_schema(paths)
    if schema is None:
        return spark.read.parquet(*paths).schema
    return schema


def _first_data_file(path: str) -> str | None:
    """First data file under ``path`` in sorted order, skipping the
    names Spark's file listing skips (hidden ``.``/``_`` names other
    than ``key=value`` directories, in-flight copies) and checksums."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    for name in sorted(os.listdir(path)):
        if (
            name.startswith(".")
            or (name.startswith("_") and "=" not in name)
            or name.endswith((".crc", "._COPYING_"))
        ):
            continue
        found = _first_data_file(os.path.join(path, name))
        if found is not None:
            return found
    return None


def _footer_schema(paths: tuple[str, ...]) -> T.StructType | None:
    f = next(filter(None, map(_first_data_file, paths)), None)
    if f is None:
        return None
    try:
        meta = pq.read_metadata(f)
        spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if spark_json is not None:
            return _nullable(T.StructType.fromJson(json.loads(spark_json)))
        arrow = meta.schema.to_arrow_schema()
        if not all(_pinned(field.type) for field in arrow):
            return None
        return _nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=True))
    except (OSError, ValueError, KeyError, TypeError, pa.ArrowException):
        return None


def _pinned(t: pa.DataType) -> bool:
    if pat.is_list(t) or pat.is_large_list(t):
        return _pinned(t.value_type)
    if pat.is_map(t):
        return _pinned(t.key_type) and _pinned(t.item_type)
    if pat.is_struct(t):
        return all(_pinned(t.field(i).type) for i in range(t.num_fields))
    if pat.is_timestamp(t):  # INT96 columns also map to "ns"
        return t.unit != "ns"
    return any(is_type(t) for is_type in _PINNED_LEAVES)


def _nullable(t: T.DataType) -> T.DataType:
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t
