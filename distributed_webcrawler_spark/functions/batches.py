"""One runner for per-row Python bodies over Arrow batches.

The operators that decode, encode or measure one payload per row (the
engine's page decode, operators/multimodal.py, the fixture encoder) all
have the same shape: a plain Python function turns one input row into
zero or more output tuples, and a ``mapInPandas`` task runs it over every
row of every Arrow batch. ``map_rows`` is that task; the function body is
the only thing a caller writes.

Output batches are built from the output schema alone (``typed_frame``):
column names and order come from its fields, and every int or bigint
column becomes the pandas nullable int of its width. pandas infers
float64 for a list of ints that holds a None, and float64's 53-bit
mantissa silently rounds 64-bit values — a pages row's phash once
differed from its payload's in the low bits that way whenever a batch
mixed decoded and failed rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, LongType, StructType

_NULLABLE_INT = {IntegerType: "Int32", LongType: "Int64"}


def typed_frame(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    """One output batch: ``rows`` hold values in ``schema``'s field order.
    int and bigint columns become nullable pandas ints of their width; the
    others keep pandas' inference, or are object columns (which Arrow casts
    to any type) when the batch is empty."""
    cols = zip(*rows) if rows else ([] for _ in schema.fields)
    out = {}
    for field, col in zip(schema.fields, cols):
        dtype = _NULLABLE_INT.get(type(field.dataType)) or (None if rows else object)
        out[field.name] = pd.array(col, dtype=dtype) if dtype else list(col)
    return pd.DataFrame(out)


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Run ``fn(*row) -> output tuples`` over every row of ``df`` (its
    columns in order) in Arrow batches. A row may map to any number of
    output rows, none included; each batch is built by ``typed_frame``
    against the DDL ``schema``."""
    st = StructType.fromDDL(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [pdf[c] for c in pdf.columns]
            yield typed_frame([out for row in zip(*cols) for out in fn(*row)], st)

    return df.mapInPandas(run, schema=st)
