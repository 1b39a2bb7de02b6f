"""``io.small_df`` (an Arrow-built ``LocalRelation``) against the RDD path it
replaced, ``createDataFrame(parallelize(rows, 1), schema)``, for every
schema its callers use."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import types as T

from streaming_data_pipeline_with_iceberg_and_spark_spark.io import small_df

# the schemas of the small_df call sites: operators, ingest batch log and
# the snapshot metadata tables
SITE_SCHEMAS = [
    "iter int, logloss double, accuracy double",
    "q_id long, q_cell int, q_vec array<float>",
    "cell int, c array<double>",
    "query_id int, term string",
    "query_id int, qvec_id long",
    "query_id int, doc_id long, grade int",
    "batch_id long",
    "file_path string, row_count long, file_bytes long",
    "version long, op string, n_dirs int, committed_at double, expired boolean",
    "ref_name string, ref_type string, version long",
    "partition array<string>, exact boolean, file_count long, "
    "row_count long, total_bytes long",
]

_SAMPLES = {
    T.IntegerType: [7, -2147483648],
    T.LongType: [1 << 40, -1],
    T.DoubleType: [0.1, float("inf")],
    T.FloatType: [0.1, -3.5],
    T.StringType: ["a b", ""],
    T.BooleanType: [True, False],
}


def _value(t: T.DataType, i: int):
    if isinstance(t, T.ArrayType):
        return [_value(t.elementType, i), None, _value(t.elementType, i + 1)]
    return _SAMPLES[type(t)][i % 2]


def _rows(struct: T.StructType) -> list[tuple]:
    full = [tuple(_value(f.dataType, i) for f in struct.fields) for i in range(2)]
    nulls = tuple(None for _ in struct.fields)
    empty_arrays = tuple(
        [] if isinstance(f.dataType, T.ArrayType) else None for f in struct.fields
    )
    return full + [nulls, empty_arrays]


def _old(spark, rows, schema):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


@pytest.mark.parametrize("schema", SITE_SCHEMAS)
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_small_df_matches_rdd_path(spark, schema, empty):
    struct = T.DataType.fromDDL(schema)
    rows = [] if empty else _rows(struct)
    new, old = small_df(spark, rows, schema), _old(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_small_df_is_a_local_relation(spark):
    df = small_df(spark, [(1, 2, [0.5])], "q_id long, q_cell int, q_vec array<float>")
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


NAIVE_SCHEMA = "ts timestamp, d date, tss array<timestamp>"
NAIVE = dt.datetime(2024, 1, 1, 12, 0, 0, 250)
NAIVE_ROWS = [(NAIVE, dt.date(2024, 1, 2), [NAIVE, None]), (None, None, None)]


def test_naive_datetime_matches_rdd_path(spark):
    new = small_df(spark, NAIVE_ROWS, NAIVE_SCHEMA)
    assert new.collect() == _old(spark, NAIVE_ROWS, NAIVE_SCHEMA).collect()


@pytest.fixture
def driver_zone():
    """Run the driver's Python in a non-UTC local zone (the session zone
    and the already-started workers stay as they were)."""
    before = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if before is None:
        os.environ.pop("TZ")
    else:
        os.environ["TZ"] = before
    time.tzset()


def test_naive_datetime_reads_in_driver_local_zone(spark, driver_zone):
    """The RDD path converts in the worker, whose zone is the driver's at
    launch; the list path converts in the driver. ``small_df`` converts in
    the driver, as the list path does."""
    new = small_df(spark, NAIVE_ROWS, NAIVE_SCHEMA)
    assert new.collect() == spark.createDataFrame(NAIVE_ROWS, NAIVE_SCHEMA).collect()
    # 12:00 in New York is 17:00 UTC
    epoch = dt.datetime(2024, 1, 1, 17, tzinfo=dt.timezone.utc).timestamp()
    got = new.selectExpr("unix_micros(ts) AS us").first()
    assert got.us == int(epoch) * 1_000_000 + 250
