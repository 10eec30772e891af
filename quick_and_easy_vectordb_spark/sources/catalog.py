"""Table catalog over the driver's parquet star schema.

``load_table(spark, sf_dir, name)`` is the single entry point every
query uses; it returns a lazy DataFrame straight off the parquet scan so
Catalyst can push filters and prune columns into the file source (the
dominant win at 100 TB — e.g. a query that never touches ``embedding``
must not read the ~0.3 KB/row vector payload).

Every call builds its scan anew: the schema, and the two
normalization decisions below that depend on it, come from one parquet
footer read in this Python process (``sources.footer.parquet_schema``),
which runs no Spark job. Nothing is memoised, so a table rewritten or
replaced between calls is always seen as it is now. A table the footer
cannot speak for exactly (INT96 or nanosecond timestamps without
Spark's schema, unsigned integers, no data file) falls back to Spark's
inferring read, with the same result and the same errors as before.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quick_and_easy_vectordb_spark.sources.footer import parquet_schema

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def _size_conf(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m',
    '1g', ...) into bytes."""
    v = v.strip().lower()
    for suf, m in (("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
                   ("mb", 1 << 20), ("kb", 1 << 10), ("p", 1 << 50),
                   ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20),
                   ("k", 1 << 10), ("b", 1)):
        if v.endswith(suf):
            return int(float(v[: -len(suf)]) * m)
    return int(v)


def _scan_splits(spark: SparkSession, size: int) -> int:
    """Estimated scan partition count for a single parquet file of
    ``size`` bytes — Spark's own split formula (FilePartition), reused
    here so ``ensure_parallelism`` can decide to fan out WITHOUT a
    plan-time RDD conversion (df.rdd.getNumPartitions measured ~30 ms
    per call on this sandbox's py4j; the formula is pure Python).
    ±1 partition of packing nuance is irrelevant to the decision:
    small files estimate 1, big files estimate >= cores."""
    max_split = _size_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    open_cost = _size_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    core_bytes = (size + open_cost) // max(
        spark.sparkContext.defaultParallelism, 1
    )
    split = min(max_split, max(open_cost, core_bytes))
    return max(1, -(-size // split))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table. No caching, no collect — the
    optimizer sees the raw file source.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations, and both are normalized here to a session-tz
    TimestampType (session tz is pinned to UTC in session.py, so the
    cast is a pure type change, never a wall-clock shift):

    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it,
      so it is read as raw nanos (legacy ``nanosAsLong`` conf, set here
      at runtime so any caller session works) and floored to micros,
      the same truncation DuckDB applies to TIMESTAMP_NS;
    * parquet timestamp[us] with isAdjustedToUTC=false — Spark reads it
      as TIMESTAMP_NTZ, which functions like ``unix_micros`` reject;
      cast to TimestampType.

    Downstream code can therefore always assume ``ts`` is a plain
    TIMESTAMP in UTC."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, path)
    ts_is_long = name == "events" and isinstance(
        schema["ts"].dataType, T.LongType
    )
    ntz_cols = tuple(
        f.name
        for f in schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    )
    df = spark.read.schema(schema).parquet(path)
    if ts_is_long:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Uniform invariant for EVERY table: temporal columns are session-tz
    # TIMESTAMP (session tz pinned UTC). The fixtures currently ship
    # orders.o_orderdate / lineitem.l_shipdate / events.ts as NTZ —
    # date-function queries tolerate NTZ, but epoch accessors
    # (unix_micros/unix_timestamp) throw on it, which is exactly how the
    # round-3 fixture drift broke 8 queries. Normalizing here makes the
    # whole engine independent of the writer's isAdjustedToUTC choice.
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    if os.path.isfile(path):
        # plan-time hint for operators/util.py:ensure_parallelism —
        # saves a ~30 ms df.rdd round trip per call (round-15)
        df._qev_scan_splits = _scan_splits(spark, os.path.getsize(path))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so ``spark.sql`` queries can
    reference them by name (mirrors the driver's DuckDB view setup)."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
