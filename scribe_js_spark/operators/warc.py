"""WARC (Web ARChive, ISO 28500) reading — the Common-Crawl container.

The north-rule input table `(url, warc_ts, html, ...)` is born from
WARC files; this closes the loop from raw crawl archives to that
table. Covers the layouts crawls actually ship:

- WARC/1.0 and /1.1 records: header block (terminated by a blank
  line), ``Content-Length``-framed body, two-CRLF record separator;
- record-wise gzip members concatenated into a ``.warc.gz`` (each
  record its own member — the Common-Crawl layout; ``archive.gunzip``
  walks the members, up to its decode budget) as well as plain
  ``.warc`` bytes;
- ``response`` records: the body is an HTTP/1.x message — the status
  line and headers are stripped to yield the payload; chunked
  transfer-encoding is de-chunked; other record types (request,
  metadata, warcinfo) are skipped.

``warc_records(data)`` yields (url, warc_date, payload bytes);
``warc_to_table(df)`` is the Spark form: a table of WARC file bytes
explodes into `(url, warc_ts, html)` rows via one Arrow-batched UDF.
"""

from __future__ import annotations

import re
from typing import Iterator

from .archive import gunzip

_WARC_MAGIC_RE = re.compile(rb"^WARC/\d+\.\d+\r?\n")


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(body):
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            break
        try:
            size = int(body[pos:nl].split(b";")[0], 16)
        except ValueError:
            break
        if size == 0:
            break
        out += body[nl + 2 : nl + 2 + size]
        pos = nl + 2 + size + 2
    return bytes(out)


def warc_records(data: bytes) -> Iterator[tuple[str, str, bytes]]:
    """Yield (target_uri, warc_date, http_payload) for every response
    record. Raises ValueError on a malformed container."""
    if data[:2] == b"\x1f\x8b":
        data = gunzip(data)  # walks concatenated members
    pos = 0
    n = len(data)
    saw_record = False
    while pos < n:
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if not _WARC_MAGIC_RE.match(data[pos : pos + 16]):
            raise ValueError("warc: bad record magic")
        saw_record = True
        hdr_end = data.find(b"\r\n\r\n", pos)
        sep = b"\r\n\r\n"
        if hdr_end < 0:
            hdr_end = data.find(b"\n\n", pos)
            sep = b"\n\n"
        if hdr_end < 0:
            raise ValueError("warc: unterminated record header")
        header = data[pos : hdr_end].decode("latin-1")
        fields = {}
        for line in header.split("\n")[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError):
            raise ValueError("warc: missing Content-Length")
        body_start = hdr_end + len(sep)
        body = data[body_start : body_start + length]
        if len(body) < length:
            raise ValueError("warc: truncated record body")
        pos = body_start + length

        if fields.get("warc-type") == "response":
            uri = fields.get("warc-target-uri", "")
            date = fields.get("warc-date", "")
            payload = body
            if body[:5] in (b"HTTP/",):
                he = body.find(b"\r\n\r\n")
                hsep = 4
                if he < 0:
                    he = body.find(b"\n\n")
                    hsep = 2
                if he >= 0:
                    http_hdr = body[:he].decode("latin-1",
                                                "replace").lower()
                    payload = body[he + hsep :]
                    if "transfer-encoding: chunked" in http_hdr:
                        payload = _dechunk(payload)
            yield uri, date, payload
    if not saw_record:
        raise ValueError("warc: no records")


def warc_to_table(df, bytes_col: str = "warc"):
    """(warc file bytes) -> exploded (url, warc_ts, html) rows — the
    north-rule input table, one Arrow-batched UDF, zero shuffles."""
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    from ..pipeline import per_document

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", StringType()),
        StructField("html", BinaryType()),
    ])

    def rows(blob):
        try:
            yield from warc_records(bytes(blob))
        except ValueError:
            return  # malformed archive: skip the rest, never fatal

    return per_document(df.select(bytes_col), rows, schema)
