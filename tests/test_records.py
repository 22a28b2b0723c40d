"""The record boundary (``functions.records``): how a row reaches the
per-record function and how its output rows become a batch."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_contrib_spark.functions.records import (
    as_text,
    map_records,
    null_as_none,
)

_INT_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("a_repr", T.StringType()),
    ]
)


def test_all_numeric_batch_keeps_ints(spark):
    # 2**53 + 1 has no float64 form: a row widened to float (as iterrows
    # does when every column is numeric) would come back as 2**53
    big = 2**53 + 1
    df = spark.createDataFrame([(big, 0.5), (7, 1.5)], "a long, b double")
    out = map_records(
        df, lambda rec: [{"a": rec["a"], "a_repr": repr(rec["a"])}], _INT_SCHEMA
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (7, "7"),
        (big, str(big)),
    ]


def test_empty_input_gives_empty_frame_with_schema(spark):
    empty = spark.createDataFrame([], "a long")
    out = map_records(empty, lambda rec: [rec], _INT_SCHEMA)
    assert out.schema == _INT_SCHEMA
    assert out.collect() == []
    # a filter that empties every batch: still typed, still no rows
    none_left = spark.range(10).where(F.col("id") < 0).withColumnRenamed("id", "a")
    assert map_records(none_left, lambda rec: [rec], _INT_SCHEMA).count() == 0


def test_fn_returns_zero_one_or_many_rows(spark):
    schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("i", T.LongType())]
    )
    df = spark.createDataFrame([(0,), (1,), (3,)], "n long")
    out = map_records(
        df, lambda rec: [{"i": i, "n": rec["n"]} for i in range(rec["n"])], schema
    )
    assert out.columns == ["n", "i"]  # schema order, not the dicts' order
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0), (3, 0), (3, 1), (3, 2),
    ]


def test_bytes_and_str_values_decode_alike(spark):
    schema = T.StructType([T.StructField("line", T.StringType())])
    text = spark.createDataFrame(
        [("a\nb",), ("café ✓",), ("",), (None,)], "value string"
    )
    binary = text.select(F.col("value").cast("binary").alias("value"))

    def lines(rec):
        return [{"line": line} for line in as_text(rec["value"]).splitlines()]

    got_text = sorted(r["line"] for r in map_records(text, lines, schema).collect())
    got_binary = sorted(
        r["line"] for r in map_records(binary, lines, schema).collect()
    )
    assert got_text == got_binary == ["a", "b", "café ✓"]


def test_as_text():
    assert as_text(b"caf\xc3\xa9") == "café"
    assert as_text(bytearray(b"x")) == "x"
    assert as_text("s") == "s"
    assert as_text(None) == ""


def test_null_as_none():
    assert null_as_none(None) is None
    assert null_as_none(float("nan")) is None
    # falsy values are values, not nulls
    assert null_as_none(0.0) == 0.0
    assert null_as_none("") == ""
