"""Archive-expansion source (SURVEY.md S7): tar.gz blobs -> member rows.

The reference downloads a blob, extracts with tarfile, and feeds members
back into the input list (Azure.__copyRemoteToLocal,
OptimizeRasters.py:2904-2958). Spark form: archives ride as BINARY rows
and the member walk below is a parser run by ``expand_blobs``
(functions/blobs.py), which owns the batch loop and the dead-letter
policy. Python tarfile is the right tool here: a genuinely imperative
per-blob operation, bounded by archive size.
"""

from __future__ import annotations

import io
import tarfile

from pyspark.sql import DataFrame

from optimizerasters_spark.functions.blobs import expand_blobs

MEMBER_SCHEMA = ("archive STRING, member STRING, size BIGINT, "
                 "payload BINARY, extract_ok BOOLEAN")
MAX_MEMBER_BYTES = 64 * 1024 * 1024  # larger members are not extracted


def _members(_, data: bytes) -> list[tuple]:
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
        return [(m.name, m.size, None, False) if m.size > MAX_MEMBER_BYTES
                else (m.name, m.size, tf.extractfile(m).read(), True)
                for m in tf.getmembers() if m.isfile()]


def expand_tars(archives: DataFrame) -> DataFrame:
    """(archive, data:binary) -> one row per member file. A NULL or
    corrupt archive is a single extract_ok=false row. Members above
    MAX_MEMBER_BYTES are skipped with extract_ok=false rows naming
    them."""
    return expand_blobs(archives, "archive", "data", MEMBER_SCHEMA,
                        _members, ("", 0, None, False))
