"""The engine's one Arrow in/out for per-row Python kernels.

A per-row kernel is a module-level function of a few column values that
returns one record (a dict keyed by the output schema's field names) or,
for :func:`flat_map_rows`, an iterable of any number of records.
:func:`map_rows` and :func:`flat_map_rows` run it as one ``mapInPandas``
stage: ship the package to the workers, project the input columns, call
the kernel on each row's values (numpy scalars, straight from
``to_numpy()``) and assemble the output batch columnar. Which entry point
an operator uses follows from its kernel's shape; there is no option.

Batch-shaped kernels — numpy over a whole Arrow batch (MinHash, LSH,
batched model inference) or a shard writer — keep raw ``mapInPandas``.

Output frames are built per column: ``pd.DataFrame(rows)`` from a list of
dicts does per-cell type inference, measured at ~2× of the WHOLE stage
cost in the extract kernel at 32 cores. A batch that produces no records
yields no frame at all: pandas would type its empty columns float64,
which Arrow cannot cast to a timestamp or binary field.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator, Sequence
from typing import TYPE_CHECKING

import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType


def records_to_frame(rows: Sequence[dict], cols: Sequence[str]) -> pd.DataFrame:
    """list-of-dict records → columnar pandas frame (one list per column,
    no per-cell inference, no copy)."""
    data = {c: [r[c] for r in rows] for c in cols}
    return pd.DataFrame(data, columns=list(cols), copy=False)


def _run(batches: Iterator[pd.DataFrame], cols: tuple[str, ...],
         fn: Callable, out_cols: tuple[str, ...],
         many: bool) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = zip(*(pdf[c].to_numpy() for c in cols))
        if many:
            recs = [rec for values in rows for rec in fn(*values)]
        else:
            recs = [fn(*values) for values in rows]
        if recs:
            yield records_to_frame(recs, out_cols)


def _map(df: DataFrame, cols: Sequence[str], fn: Callable,
         schema: StructType, many: bool) -> DataFrame:
    from ocr_award_extractor_spark.config import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    # a partial of a module-level function pickles by reference, so the
    # worker imports this package (and its zipimport stat check) to run it
    kernel = functools.partial(_run, cols=tuple(cols), fn=fn,
                               out_cols=tuple(schema.fieldNames()),
                               many=many)
    kernel.__name__ = fn.__name__   # the plan names the row kernel
    return df.select(*cols).mapInPandas(kernel, schema)


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
