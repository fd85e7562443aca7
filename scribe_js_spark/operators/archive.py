"""Decompression of whole inputs: gzip wrappers (a gzipped document, a
``.warc.gz`` archive) and zip members (DOCX, EPUB), each capped at the
decode budget of ``budget.py``."""

from __future__ import annotations

import zipfile
import zlib

from ..budget import check_budget, inflate


def gunzip(data: bytes) -> bytes:
    """``gzip.decompress`` with the output capped at the decode budget.
    Like it, this walks concatenated members (a ``.warc.gz`` holds one
    per record) and skips zero padding between them. A corrupt or
    truncated member, or output past the budget, raises ValueError."""
    parts, total = [], 0
    try:
        while data:
            part, data = inflate(data, 31, "gzip output", total)
            parts.append(part)
            total += len(part)
            data = data.lstrip(b"\x00")
    except zlib.error as e:
        raise ValueError(f"gzip: bad member: {e}") from None
    return b"".join(parts)


def read_member(zf: zipfile.ZipFile, name: str) -> bytes:
    """``zf.read(name)``, refused before anything is inflated when the
    member declares more than the decode budget. The read stops at the
    declared size, so the declaration bounds it."""
    check_budget(zf.getinfo(name).file_size, f"zip member {name}")
    return zf.read(name)
