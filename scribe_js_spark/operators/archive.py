"""Decompression of whole inputs (gzip wrappers, zip members), capped
at STREAM_DECODE_BUDGET like every stream decode."""

from __future__ import annotations

import zipfile
import zlib

#: Most bytes one decompression may produce: a PDF stream through
#: FlateDecode or LZWDecode, a gzip-wrapped document or archive, or a
#: zip member. Deflate can expand its input about a thousandfold, so a
#: few MB of hostile input could otherwise claim gigabytes. It sits
#: above the largest legitimate stream expected (a 600 dpi CMYK
#: letter-size page image is about 135 MB).
STREAM_DECODE_BUDGET = 256 * 1024 * 1024


def _over_budget(what: str) -> ValueError:
    return ValueError(
        f"{what} exceeds the decode budget of {STREAM_DECODE_BUDGET} bytes")


def gunzip(data: bytes) -> bytes:
    """``gzip.decompress`` with the output capped at STREAM_DECODE_BUDGET.
    Like it, this walks concatenated members (a ``.warc.gz`` holds one
    per record) and skips zero padding between them. A corrupt or
    truncated member, or output past the budget, raises ValueError."""
    parts, total = [], 0
    try:
        while data:
            d = zlib.decompressobj(wbits=31)
            part = d.decompress(data, STREAM_DECODE_BUDGET + 1 - total)
            parts.append(part)
            total += len(part)
            if total > STREAM_DECODE_BUDGET:
                raise _over_budget("gzip output")
            if not d.eof:
                raise ValueError("gzip: truncated member")
            data = d.unused_data.lstrip(b"\x00")
    except zlib.error as e:
        raise ValueError(f"gzip: bad member: {e}") from None
    return b"".join(parts)


def read_member(zf: zipfile.ZipFile, name: str) -> bytes:
    """``zf.read(name)``, refused before anything is inflated when the
    member declares more than STREAM_DECODE_BUDGET bytes. The read stops
    at the declared size, so the declaration bounds it."""
    if zf.getinfo(name).file_size > STREAM_DECODE_BUDGET:
        raise _over_budget(f"zip member {name}")
    return zf.read(name)
