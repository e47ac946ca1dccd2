"""The one bridge from a DataFrame to per-row Python code.

Parsers of raw payloads (HTML, WARC, PDF, docx, MP4, audio, images) run
a Python function per input row on the executors.  ``flat_map`` is the
only way they meet Spark: ``fn(*row)`` is called on the Python values of
``df.select(*cols)`` (``None`` for NULL) and returns zero or more output
tuples, in the column order of the DDL ``schema``.

It runs as ``mapInArrow``: input columns arrive through ``to_pylist()``
and each output column is built with ``pa.array(..., type=field.type)``,
so NULLs survive in every type (no NaN-for-NULL, no nullable-int casts)
and a value that does not fit its declared type raises instead of being
cast silently.  Scan-side, zero shuffles: one task per input partition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def flat_map(
    df: DataFrame,
    cols: list[str],
    schema: str,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Rows ``fn(*row)`` yields for each row of ``df.select(*cols)``,
    typed by the DDL ``schema``."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out = [
                r
                for row in zip(*(c.to_pylist() for c in b.columns))
                for r in fn(*row)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[i] for r in out], type=f.type)
                    for i, f in enumerate(arrow)
                ],
                schema=arrow,
            )

    return df.select(*cols).mapInArrow(_run, schema=struct)
