"""The decode budget: the most one decode of one input may produce.

A decoder whose output size comes from its input (a deflate stream,
an image header) refuses an output past DECODE_BUDGET before it
inflates or allocates it, so a few KB of hostile input cannot claim
gigabytes. BudgetExceeded is a ValueError: it becomes the document's
or the image's ``error`` like any malformed input. A 600 dpi
letter-size RGBA page is about 135 MB.

Each site counts in its own unit, and the unit is part of what it
admits:
- output bytes: gzip and WARC members, zip members (as declared), PDF
  FlateDecode and LZWDecode streams
- one byte per 8-bit sample: PNG (filtered scanlines or pixels), RLE
  BMP and GIF (as RGB), CCITT rows, TIFF tile mosaics, JPEG 2000 SIZ
- coefficient samples: baseline and progressive JPEG
- plane bytes: lossless (uint16) and hierarchical (int64) JPEG

Sites read DECODE_BUDGET through this module when they run, so one
``monkeypatch.setattr(budget, "DECODE_BUDGET", n)`` reaches them all.
JBIG2 keeps its own pixel cap, ``jbig2._MAX_PIXELS``.
"""

from __future__ import annotations

import zlib

DECODE_BUDGET = 256 * 1024 * 1024


class BudgetExceeded(ValueError):
    pass


def check_budget(nbytes: int, what: str) -> None:
    """Refuse ``nbytes`` past DECODE_BUDGET; ``what`` names the decoder
    and the claimed size in the error."""
    if nbytes > DECODE_BUDGET:
        raise BudgetExceeded(
            f"{what} exceeds the decode budget of {DECODE_BUDGET} bytes")


def inflate(data: bytes, wbits: int, what: str,
            used: int = 0) -> tuple[bytes, bytes]:
    """(output, bytes after it) of the zlib (``wbits`` 15) or gzip (31)
    member at the start of ``data``, capped at the budget left after
    ``used`` bytes. Below the cap it returns and raises what
    ``zlib.decompress`` does: a truncated member raises zlib.error."""
    d = zlib.decompressobj(wbits=wbits)
    out = d.decompress(data, DECODE_BUDGET + 1 - used)
    check_budget(used + len(out), what)
    if not d.eof:
        raise zlib.error("Error -5 while decompressing data: "
                         "incomplete or truncated stream")
    return out, d.unused_data
