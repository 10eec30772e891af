"""The engine's read path (sources/footer.py, writers.read_corpus,
catalog.load_table): the scan schema comes from one parquet footer read
with pyarrow, equals what Spark's inference returns, falls back to
inference where parity is not pinned, sees files written outside the
engine, and runs no Spark job until the read is executed."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from quick_and_easy_vectordb_spark.operators.search import top_k_by_dot
from quick_and_easy_vectordb_spark.sources.catalog import (
    DEFAULT_SF_DIR,
    TABLES,
    load_table,
)
from quick_and_easy_vectordb_spark.sources.footer import parquet_schema
from quick_and_easy_vectordb_spark.sources.writers import (
    append_rows,
    read_corpus,
    write_corpus,
)
from tests.conftest import spark_jobs

ARROW_TYPES = {
    "l": pa.int64(),
    "i": pa.int32(),
    "i16": pa.int16(),
    "i8": pa.int8(),
    "d": pa.float64(),
    "f": pa.float32(),
    "s": pa.string(),
    "ls": pa.large_string(),
    "b": pa.binary(),
    "lb": pa.large_binary(),
    "flag": pa.bool_(),
    "day": pa.date32(),
    "dec": pa.decimal128(12, 3),
    "ts_utc": pa.timestamp("us", tz="UTC"),
    "ts_ntz": pa.timestamp("us"),
    "ts_ms": pa.timestamp("ms"),
    "af": pa.list_(pa.float32()),
    "ad": pa.list_(pa.float64()),
    "st": pa.struct([("x", pa.int64()), ("y", pa.string())]),
    "m": pa.map_(pa.string(), pa.int64()),
}

SPARK_SCHEMA = T.StructType(
    [
        T.StructField("l", T.LongType(), False),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        # field metadata lives only in Spark's stored schema
        T.StructField("s", T.StringType(), metadata={"comment": "label"}),
        T.StructField("b", T.BinaryType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("day", T.DateType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("ts_utc", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
        T.StructField("af", T.ArrayType(T.FloatType(), False)),
        T.StructField("ad", T.ArrayType(T.DoubleType())),
        T.StructField(
            "st",
            T.StructType(
                [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.LongType(), False)),
    ]
)


def _arrow_rows(n: int) -> pa.Table:
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5)
    cols = {
        "l": list(range(n)),
        "i": [None if k % 3 == 0 else k for k in range(n)],
        "i16": [-k for k in range(n)],
        "i8": [k % 100 for k in range(n)],
        "d": [k / 7 for k in range(n)],
        "f": [k / 4 for k in range(n)],
        "s": [f"s{k}" for k in range(n)],
        "ls": [f"ls{k}" for k in range(n)],
        "b": [bytes([k % 256]) for k in range(n)],
        "lb": [bytes([k % 256, 1]) for k in range(n)],
        "flag": [k % 2 == 0 for k in range(n)],
        "day": [dt.date(2024, 1, 1) + dt.timedelta(days=k) for k in range(n)],
        "dec": [decimal.Decimal(k) / 8 for k in range(n)],
        "ts_utc": [t0 + dt.timedelta(seconds=k) for k in range(n)],
        "ts_ntz": [t0 + dt.timedelta(minutes=k) for k in range(n)],
        "ts_ms": [t0 + dt.timedelta(milliseconds=k) for k in range(n)],
        "af": [[float(k), 0.5] for k in range(n)],
        "ad": [[float(k)] for k in range(n)],
        "st": [{"x": k, "y": str(k)} for k in range(n)],
        "m": [[("k", k)] for k in range(n)],
    }
    return pa.table({c: pa.array(v, ARROW_TYPES[c]) for c, v in cols.items()})


def _spark_rows(spark, n: int):
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [
        (
            k, k, k / 7, k / 4, f"s{k}", bytes([k % 256]), k % 2 == 0,
            dt.date(2024, 1, 1) + dt.timedelta(days=k),
            decimal.Decimal(k) / 8,
            (t0 + dt.timedelta(seconds=k)).replace(tzinfo=dt.timezone.utc),
            t0 + dt.timedelta(minutes=k),
            [float(k), 0.5], [float(k)], (k, str(k)), {"k": k},
        )
        for k in range(n)
    ]
    return spark.createDataFrame(rows, SPARK_SCHEMA)


def _same_outcome(spark, path: str) -> None:
    """parquet_schema gives what the inferring read gives — the schema,
    or the same kind of error (Spark 4 refuses TIMESTAMP(NANOS) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set)."""
    try:
        want = spark.read.parquet(path).schema
    except Exception as e:  # noqa: BLE001 — the error itself is compared
        with pytest.raises(type(e)):
            parquet_schema(spark, path)
    else:
        assert parquet_schema(spark, path) == want


# ------------------------------------------------------------ schema parity
@pytest.mark.parametrize("name", TABLES)
def test_fixture_table_schema_parity(spark, name):
    path = os.path.join(DEFAULT_SF_DIR, f"{name}.parquet")
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_pyarrow_written_schema_parity(spark, tmp_path):
    path = str(tmp_path / "arrow.parquet")
    pq.write_table(_arrow_rows(5), path)
    got = parquet_schema(spark, path)
    assert got == spark.read.parquet(path).schema
    assert got["ts_utc"].dataType == T.TimestampType()
    assert got["ts_ntz"].dataType == T.TimestampNTZType()
    assert read_corpus(spark, path).collect() == spark.read.parquet(path).collect()


def test_pyarrow_required_fields_read_as_nullable(spark, tmp_path):
    schema = pa.schema(
        [
            pa.field("id", pa.int64(), nullable=False),
            pa.field("v", pa.list_(pa.field("e", pa.float32(), nullable=False))),
        ]
    )
    path = str(tmp_path / "req.parquet")
    pq.write_table(pa.table({"id": [1], "v": [[1.0]]}, schema=schema), path)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_spark_written_schema_parity(spark, tmp_path):
    path = str(tmp_path / "spark")
    write_corpus(_spark_rows(spark, 5), path)
    assert spark_jobs(spark, lambda: parquet_schema(spark, path)) == 0
    got = parquet_schema(spark, path)
    assert got == spark.read.parquet(path).schema
    assert got["ts_ntz"].dataType == T.TimestampNTZType()
    assert got["s"].metadata == {"comment": "label"}
    assert read_corpus(spark, path).collect() == spark.read.parquet(path).collect()


def test_partitioned_directory_parity(spark, tmp_path):
    """A footer schema lacks the partition column; the reader still
    appends it, with the same type, and reads every row."""
    path = str(tmp_path / "parts")
    df = _spark_rows(spark, 6).selectExpr("l", "cast(l % 3 as int) as part", "af")
    write_corpus(df, path, partition_by="part")
    want = spark.read.parquet(path)
    got = read_corpus(spark, path)
    assert got.schema == want.schema
    assert got.schema.fieldNames() == ["l", "af", "part"]
    assert got.count() == want.count() == 6
    assert sorted(got.collect()) == sorted(want.collect())


# ----------------------------------------------------------------- fallback
def test_empty_directory_raises_as_before(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(AnalysisException) as before:
        spark.read.parquet(empty)
    with pytest.raises(AnalysisException) as after:
        read_corpus(spark, empty)
    assert after.value.getCondition() == before.value.getCondition()
    missing = str(tmp_path / "missing")
    with pytest.raises(AnalysisException) as before:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as after:
        read_corpus(spark, missing)
    assert after.value.getCondition() == before.value.getCondition()


@pytest.mark.parametrize(
    "table, kwargs",
    [
        (pa.table({"u": pa.array([1, 2], pa.uint32())}), {}),
        (pa.table({"u": pa.array([1, 2], pa.uint64())}), {}),
        (pa.table({"t": pa.array([1, 2], pa.timestamp("ns"))}), {}),
        (
            pa.table({"t": pa.array([1, 2], pa.timestamp("us"))}),
            {"use_deprecated_int96_timestamps": True},
        ),
    ],
    ids=["uint32", "uint64", "ts_nanos", "int96"],
)
def test_unpinned_types_take_the_inferring_read(spark, tmp_path, table, kwargs):
    path = str(tmp_path / "x.parquet")
    pq.write_table(table, path, **kwargs)
    _same_outcome(spark, path)

    def attempt():
        try:
            parquet_schema(spark, path)
        except Exception:  # noqa: BLE001 — the jobs it ran are counted
            pass

    assert spark_jobs(spark, attempt) >= 1  # the inferring read ran


# ----------------------------------------------------------- outside writes
def test_file_copied_in_is_seen_on_next_read(spark, tmp_path):
    table = str(tmp_path / "table")
    os.makedirs(table)
    src = str(tmp_path / "batch.parquet")
    pq.write_table(_arrow_rows(4), src)
    shutil.copy(src, os.path.join(table, "part-initial.parquet"))
    assert read_corpus(spark, table).count() == 4
    shutil.copy(src, os.path.join(table, "part-copied.parquet"))
    assert read_corpus(spark, table).count() == 8
    # a reset (delete + copy back) is seen too
    shutil.rmtree(table)
    os.makedirs(table)
    shutil.copy(src, os.path.join(table, "part-initial.parquet"))
    assert read_corpus(spark, table).count() == 4


def test_hidden_and_checksum_files_are_skipped(spark, tmp_path):
    table = str(tmp_path / "table")
    os.makedirs(os.path.join(table, "_temporary"))
    for junk in ("_SUCCESS", ".part-0.parquet.crc", "_temporary/a.parquet"):
        with open(os.path.join(table, junk), "wb") as f:
            f.write(b"not parquet")
    pq.write_table(_arrow_rows(3), os.path.join(table, "part-0.parquet"))
    assert spark_jobs(spark, lambda: parquet_schema(spark, table)) == 0
    assert parquet_schema(spark, table) == spark.read.parquet(table).schema


def test_load_table_sees_a_rewritten_file(spark, tmp_path):
    """No schema memo: a table replaced between calls is read as it is
    now, schema included."""
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load_table(spark, sf, "region").count() == 2
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"],
                  "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.count() == 3


# --------------------------------------------------------------- job counts
def _vectors(path: str, start: int, n: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, 8)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(start, start + n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }),
        path,
    )


def test_read_corpus_schema_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _vectors(path, 0, 10, 1)
    assert spark_jobs(spark, lambda: read_corpus(spark, path).schema) == 0


def test_append_and_search_run_one_job_each(spark, tmp_path):
    table = str(tmp_path / "table")
    os.makedirs(table)
    _vectors(os.path.join(table, "part-initial.parquet"), 0, 200, 0)
    batches = []
    for step in range(8):
        b = str(tmp_path / f"batch-{step}.parquet")
        _vectors(b, 200 + 20 * step, 20, step + 1)
        batches.append(b)

    def append(b):
        append_rows(read_corpus(spark, b), table)

    assert spark_jobs(spark, lambda: append(batches[0])) == 1
    for b in batches[1:]:
        append(b)
    data = [f for f in os.listdir(table) if f.endswith(".parquet")]
    assert len(data) == 9
    q = [1.0] * 8
    out = []

    def search():
        df = read_corpus(spark, table)
        out.extend(top_k_by_dot(df, q, k=10, vector_col="embedding",
                                id_col="vec_id").collect())

    assert spark_jobs(spark, search) == 1
    assert len(out) == 10
