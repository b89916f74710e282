"""WARC source: Common Crawl's archive format -> page rows.

The reference ingests rasters from cloud blobs (S5/S7 analogs,
OptimizeRasters.py:2904-2958); the web-corpus twin ingests WARC
segments — the format every crawl corpus actually arrives in. WARC/1.0
is a plain framed text format (header block, blank line, Content-Length
payload, two CRLF record separators), so the parser is stdlib-only.

Spark shape: segments ride as BINARY rows (spark.read.format('binaryFile')
or any blob table); ``expand_warcs`` explodes each segment into one row
per ``response`` record through ``expand_blobs`` (functions/blobs.py),
which owns the batch loop and the dead-letter policy. gzip'd segments
(.warc.gz) are decompressed in-task.
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame

from optimizerasters_spark.functions.blobs import expand_blobs

WARC_ROW_SCHEMA = ("segment STRING, record_id STRING, url STRING, "
                   "warc_date STRING, content_length BIGINT, "
                   "payload BINARY, parse_ok BOOLEAN")


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Parse WARC/1.0 records out of one segment's bytes. Returns the
    ``response`` records only (request/metadata/warcinfo skipped, as
    corpus ingestion does). Pure function — unit-testable without
    Spark, reused by the vectorized source below."""
    rows: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("truncated WARC header block")
        header = data[pos:head_end].decode("utf-8", "replace")
        lines = header.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            raise ValueError("missing WARC/ version line")
        fields = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        clen = int(fields.get("content-length", "0"))
        payload = data[head_end + 4:head_end + 4 + clen]
        if len(payload) != clen:
            raise ValueError("truncated WARC payload")
        if fields.get("warc-type") == "response":
            rows.append({
                "record_id": fields.get("warc-record-id", ""),
                "url": fields.get("warc-target-uri", ""),
                "warc_date": fields.get("warc-date", ""),
                "content_length": clen,
                "payload": payload,
            })
        pos = head_end + 4 + clen
    return rows


def _responses(name, raw: bytes) -> list[tuple]:
    if str(name).endswith(".gz") or raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    return [(r["record_id"], r["url"], r["warc_date"], r["content_length"],
             r["payload"], True) for r in parse_warc_bytes(raw)]


def expand_warcs(segments: DataFrame) -> DataFrame:
    """(path, content:binary) -> one row per WARC response record; a
    NULL or malformed segment is a single parse_ok=false row."""
    return expand_blobs(segments, "path", "content", WARC_ROW_SCHEMA,
                        _responses, ("", "", "", 0, None, False))


def write_warc_bytes(records: list[tuple[str, str, bytes]]) -> bytes:
    """Assemble a WARC/1.0 segment from (url, date, payload) triples —
    the test/fixture writer (the exact inverse of parse_warc_bytes)."""
    out = bytearray()
    for i, (url, date, payload) in enumerate(records):
        head = (f"WARC/1.0\r\n"
                f"WARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:test:{i}>\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {date}\r\n"
                f"Content-Length: {len(payload)}\r\n"
                f"\r\n").encode()
        out += head + payload + b"\r\n\r\n"
    return bytes(out)
