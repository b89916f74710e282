"""Archive-expansion source (SURVEY.md S7): tar.gz blobs -> member rows.

The reference downloads a blob, extracts with tarfile, and feeds members
back into the input list (Azure.__copyRemoteToLocal,
OptimizeRasters.py:2904-2958). Spark form: archives ride as BINARY rows;
mapInPandas explodes each into (archive, member, size, payload) rows —
one task per batch of archives, no driver-side IO, streaming-compatible.

Python tarfile in a UDF is the right tool here (a genuinely imperative
per-blob operation, not expressible with built-ins); batches are Arrow,
the per-member loop is bounded by archive size.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MEMBER_SCHEMA = ("archive STRING, member STRING, size BIGINT, "
                 "payload BINARY, extract_ok BOOLEAN")
MAX_MEMBER_BYTES = 64 * 1024 * 1024  # larger members are not extracted


def expand_tars(archives: DataFrame) -> DataFrame:
    """(archive, data:binary) -> one row per member file. Corrupt
    archives surface as a single extract_ok=false row (dead-letter), not
    a task failure. Members above MAX_MEMBER_BYTES are skipped with
    extract_ok=false rows naming them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"archive": [], "member": [], "size": [],
                   "payload": [], "extract_ok": []}
            for name, data in zip(pdf["archive"], pdf["data"]):
                try:
                    buf = io.BytesIO(bytes(data) if data is not None
                                     else b"")
                    with tarfile.open(fileobj=buf, mode="r:*") as tf:
                        for m in tf.getmembers():
                            if not m.isfile():
                                continue
                            if m.size > MAX_MEMBER_BYTES:
                                out["archive"].append(name)
                                out["member"].append(m.name)
                                out["size"].append(m.size)
                                out["payload"].append(None)
                                out["extract_ok"].append(False)
                                continue
                            f = tf.extractfile(m)
                            out["archive"].append(name)
                            out["member"].append(m.name)
                            out["size"].append(m.size)
                            out["payload"].append(f.read() if f else b"")
                            out["extract_ok"].append(True)
                except Exception:
                    out["archive"].append(name)
                    out["member"].append("")
                    out["size"].append(0)
                    out["payload"].append(None)
                    out["extract_ok"].append(False)
            yield pd.DataFrame(out)

    return archives.mapInPandas(run, MEMBER_SCHEMA)
