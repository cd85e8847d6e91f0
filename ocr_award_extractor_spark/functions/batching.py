"""The engine's one Arrow boundary for Python kernels.

A per-row kernel is a module-level function of a few column values that
returns one record (a dict keyed by the output schema's field names) or,
for :func:`flat_map_rows`, an iterable of any number of records.
:func:`map_rows` and :func:`flat_map_rows` run it as one ``mapInArrow``
stage, one output batch per input batch (:func:`map_batches`). Which entry
point an operator uses follows from its kernel's shape; there is no
option. The lineage commit and the WARC/WET writers cross with
:func:`column_values` and :func:`records_to_batch` too. A kernel sees a
timestamp as a naive UTC ``datetime``, and a naive one it returns is read
as UTC, whatever the session time zone. Batch-shaped kernels (LSH band
keys, the bucket pair kernels, the model slot's one inference call per
batch) cross the same boundary through :func:`arrow_stage`; the numpy
ones read list columns as numpy views of the batch.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import TYPE_CHECKING

import pyarrow as pa

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType


def column_values(batch: pa.RecordBatch, cols: Sequence[str]) -> list[list]:
    """The Python values of ``cols`` in ``batch``, one list per column."""
    out = []
    for col in map(batch.column, cols):
        if pa.types.is_timestamp(col.type):   # zoned by the session: keep UTC
            col = col.cast(pa.timestamp(col.type.unit))
        out.append(col.to_pylist())
    return out


def records_to_batch(records: Sequence[dict], schema: StructType) -> pa.RecordBatch:
    """Records → one Arrow batch typed by ``schema``, built per column."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_pydict(
        {c: [r[c] for r in records] for c in schema.fieldNames()},
        schema=to_arrow_schema(schema))


def map_batches(batches: Iterable[pa.RecordBatch], cols: Sequence[str],
                fn: Callable, schema: StructType,
                many: bool = False) -> Iterator[pa.RecordBatch]:
    """``fn`` over each row of ``cols``: one output batch per input batch."""
    for batch in batches:
        rows = zip(*column_values(batch, cols))
        if many:
            recs = [rec for values in rows for rec in fn(*values)]
        else:
            recs = [fn(*values) for values in rows]
        yield records_to_batch(recs, schema)


def arrow_stage(df: DataFrame, kernel: Callable, schema: StructType,
                name: str, **params) -> DataFrame:
    """``kernel(batches, schema=schema, **params)`` over ``df`` as one
    ``mapInArrow`` stage named ``name`` in the plan. ``kernel`` is a
    module-level function: a partial of it pickles by reference, so the
    worker imports this package (and its zipimport stat check) to run it."""
    from ocr_award_extractor_spark.config import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    fn = functools.partial(kernel, schema=schema, **params)
    fn.__name__ = name
    return df.mapInArrow(fn, schema)


def _map(df: DataFrame, cols: Sequence[str], fn: Callable,
         schema: StructType, many: bool) -> DataFrame:
    return arrow_stage(df.select(*cols), map_batches, schema, fn.__name__,
                       cols=tuple(cols), fn=fn, many=many)


def map_rows(df: DataFrame, cols: Sequence[str],
             fn: Callable[..., dict], schema: StructType) -> DataFrame:
    """``fn(*row[cols]) -> record`` over every row of ``df``: one output
    row per input row, typed by ``schema``."""
    return _map(df, cols, fn, schema, many=False)


def flat_map_rows(df: DataFrame, cols: Sequence[str],
                  fn: Callable[..., Iterator[dict]],
                  schema: StructType) -> DataFrame:
    """``fn(*row[cols]) -> records`` over every row of ``df``: any number
    of output rows per input row (a WARC file to its records, a document
    to its media), typed by ``schema``."""
    return _map(df, cols, fn, schema, many=True)
