"""The one Python boundary for blob stages: a BINARY column in, rows out.

Media decode, frame sampling, resize, tar members and WARC records are
each a parser ``parse(key, data) -> [row, ...]`` over one blob's bytes;
``expand_blobs`` runs it over Arrow batches and decides the dead-letter
policy once:

  * a NULL blob gives the dead row when the stage has one, and otherwise
    reads as ``b""``;
  * a blob whose parser raises yields exactly one row ``(key, *dead)``,
    never a mix of parsed rows and a dead letter;
  * ``dead=None`` means the stage has no dead row: the error fails the
    task.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def expand_blobs(df: DataFrame, key_col: str, blob_col: str, schema: str,
                 parse: Callable[[object, bytes], list[tuple]],
                 dead: tuple | None) -> DataFrame:
    """One output row ``(key, *row)`` per tuple ``parse(key, data)``
    returns for each input row; ``schema`` is the output DDL, key
    first."""
    names = StructType.fromDDL(schema).fieldNames()

    def rows(key, blob) -> list[tuple]:
        if blob is None and dead is not None:
            return [dead]
        try:
            return list(parse(key, b"" if blob is None else bytes(blob)))
        except Exception:
            if dead is None:
                raise
            return [dead]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [(key, *row) for key, blob in zip(pdf[key_col], pdf[blob_col])
                 for row in rows(key, blob)], columns=names)

    return df.mapInPandas(run, schema)
