"""functions/batches: the per-row Arrow batch runner every payload operator
uses. One test of the nullable-int rule stands for every site, since all
of them build their output batches through ``typed_frame``."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from distributed_webcrawler_spark.functions.batches import map_rows, typed_frame
from distributed_webcrawler_spark.operators import multimodal as M

BIG = 2**60 + 1          # above 2^53: float64 cannot hold it
SCHEMA = "id string, ok boolean, n int, h bigint, err string"


def test_nullable_ints_survive_a_mixed_batch(spark):
    """One Arrow batch holds an error row (None ints) next to rows whose
    bigint is above 2^53; every value comes back exact, with the schema's
    column types. pandas' own inference would make the int columns
    float64 and round the bigints."""
    def row(i, payload):   # local: workers unpickle it by value
        if payload == "bad":
            return [(i, False, None, None, "decode error")]
        return [(i, True, 7, BIG if payload == "big" else -BIG, None)]

    df = spark.createDataFrame([("a", "bad"), ("b", "big"), ("c", "neg")],
                               "i string, payload string").coalesce(1)
    out = map_rows(df, row, SCHEMA)
    assert out.schema == StructType.fromDDL(SCHEMA)
    got = {r.id: tuple(r) for r in out.collect()}
    assert got == {"a": ("a", False, None, None, "decode error"),
                   "b": ("b", True, 7, BIG, None),
                   "c": ("c", True, 7, -BIG, None)}


def test_typed_frame_dtypes_follow_the_schema():
    schema = StructType.fromDDL("id string, n int, h bigint")
    pdf = typed_frame([("a", None, BIG), ("b", 3, None)], schema)
    assert list(pdf.columns) == ["id", "n", "h"]
    assert [str(t) for t in pdf.dtypes] == ["object", "Int32", "Int64"]
    assert pdf["h"][0] == BIG


def test_rows_that_map_to_nothing_give_an_empty_typed_batch(spark):
    """resize drops undecodable payloads: a batch of corrupt bytes only
    becomes an empty batch with the schema's columns, not a failed task."""
    junk = spark.createDataFrame([(f"x{i}", b"corrupt") for i in range(5)],
                                 "image_id string, bytes binary").coalesce(1)
    out = M.resize(junk, 8, 8)
    assert out.schema == StructType.fromDDL(M.RESIZE_SCHEMA)
    assert out.collect() == []
    empty = typed_frame([], out.schema)
    assert list(empty.columns) == out.columns and len(empty) == 0
