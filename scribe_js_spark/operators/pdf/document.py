"""PDF document object layer: xref parsing, object cache, stream decode.

Covers the reference's parsePdfUtils.js (findXrefOffset, parseXref for
classic tables AND xref streams, extractStream with the content-capable
filters: FlateDecode + PNG predictors, LZWDecode + EarlyChange,
RunLengthDecode, ASCIIHex/ASCII85) and objectCache.js (lazy object
decode + caching). Fresh implementation from the PDF 1.7 spec; image
codecs (DCT/CCITT/JBIG2/JPX) never reach the text layer.
"""

from __future__ import annotations

import re
import zlib

from ... import budget
from .lexer import Lexer, Name, Ref, StreamObj

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)", re.S)
_OBJ_SCAN_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfError(ValueError):
    pass


class PdfDocument:
    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple] = {}  # objnum -> ('n', offset) | ('c', stream_objnum, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self.crypto = None
        self._parse_xref_chain()
        # Standard-security-handler decryption (crypto.py). Set up after
        # the xref chain so the /Encrypt dict is resolvable; raises
        # PdfError for unsupported handlers / failed empty-password
        # validation so callers surface 'encrypted' as a parse failure.
        from .crypto import setup_encryption

        self.crypto = setup_encryption(self)

    # ------------------------------------------------------------- xref

    def _parse_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in _STARTXREF_RE.finditer(tail):
            pass
        if not m:
            self._rebuild_xref()
            return
        offset = int(m.group(1))
        seen = set()
        try:
            while offset and offset not in seen:
                seen.add(offset)
                offset = self._parse_xref_section(offset)
        except Exception:
            self._rebuild_xref()
        if "Root" not in self.trailer:
            self._rebuild_xref()

    def _parse_xref_section(self, offset: int):
        lex = Lexer(self.data, offset)
        lex.skip_ws()
        if self.data[lex.pos : lex.pos + 4] == b"xref":
            return self._parse_xref_table(lex)
        # xref stream: header is "num gen obj"
        lex = Lexer(self.data, offset)
        lex.skip_ws()
        lex.read_token_word()  # num
        lex.skip_ws()
        lex.read_token_word()  # gen
        lex.skip_ws()
        kw = lex.read_token_word()
        if kw != b"obj":
            raise PdfError("bad xref stream header")
        stream = lex.read_object()
        if not isinstance(stream, StreamObj):
            raise PdfError("xref stream missing")
        return self._parse_xref_stream(stream)

    def _parse_xref_table(self, lex: Lexer):
        lex.pos += 4  # 'xref'
        while True:
            lex.skip_ws()
            if self.data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                trailer = lex.read_object()
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
                if "XRefStm" in trailer:
                    self._parse_xref_section(int(trailer["XRefStm"]))
                return int(trailer["Prev"]) if "Prev" in trailer else None
            start_tok = lex.read_token_word()
            if not start_tok.isdigit():
                raise PdfError(f"bad xref subsection at {lex.pos}")
            lex.skip_ws()
            count = int(lex.read_token_word())
            start = int(start_tok)
            for i in range(count):
                lex.skip_ws()
                f1 = lex.read_token_word()
                lex.skip_ws()
                f2 = lex.read_token_word()
                lex.skip_ws()
                f3 = lex.read_token_word()
                objnum = start + i
                if f3 == b"n" and objnum not in self.xref:
                    self.xref[objnum] = ("n", int(f1))

    def _parse_xref_stream(self, stream: StreamObj):
        d = stream.dict
        raw = self._stream_bytes(stream)
        w = [int(x) for x in d["W"]]
        size = int(d["Size"])
        index = d.get("Index", [0, size])
        index = [int(x) for x in index]
        row_len = sum(w)
        pos = 0
        for k in range(0, len(index), 2):
            start, count = index[k], index[k + 1]
            for i in range(count):
                if pos + row_len > len(raw):
                    break
                fields = []
                for width in w:
                    if width == 0:
                        fields.append(1 if len(fields) == 0 else 0)
                    else:
                        fields.append(int.from_bytes(raw[pos : pos + width], "big"))
                        pos += width
                objnum = start + i
                ftype = fields[0]
                if objnum in self.xref:
                    continue
                if ftype == 1:
                    self.xref[objnum] = ("n", fields[1])
                elif ftype == 2:
                    self.xref[objnum] = ("c", fields[1], fields[2])
        for k, v in d.items():
            if k not in ("W", "Index", "Filter", "DecodeParms", "Length", "Type"):
                self.trailer.setdefault(k, v)
        return int(d["Prev"]) if "Prev" in d else None

    def _rebuild_xref(self) -> None:
        """Fallback: scan for 'N G obj' markers (salvages documents with
        corrupt xref tables — the never-fatal contract)."""
        self.xref = {}
        for m in _OBJ_SCAN_RE.finditer(self.data):
            self.xref[int(m.group(1))] = ("n", m.start())
        # find the trailer dict or a catalog object
        for m in re.finditer(rb"trailer", self.data):
            try:
                lex = Lexer(self.data, m.end())
                t = lex.read_object()
                if isinstance(t, dict):
                    for k, v in t.items():
                        self.trailer.setdefault(k, v)
            except Exception:
                continue
        if "Root" not in self.trailer:
            for objnum in self.xref:
                try:
                    obj = self.get_object(objnum)
                except Exception:
                    continue
                d = obj.dict if isinstance(obj, StreamObj) else obj
                if isinstance(d, dict) and d.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(objnum, 0)
                    break
        if "Root" not in self.trailer:
            raise PdfError("no document catalog found")

    # ---------------------------------------------------------- objects

    def resolve(self, obj):
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num)
        return obj

    def get_object(self, objnum: int):
        if objnum in self._cache:
            return self._cache[objnum]
        entry = self.xref.get(objnum)
        if entry is None:
            return None
        if entry[0] == "n":
            lex = Lexer(self.data, entry[1])
            lex.skip_ws()
            lex.read_token_word()  # num
            lex.skip_ws()
            gen_tok = lex.read_token_word()
            lex.skip_ws()
            kw = lex.read_token_word()
            if kw != b"obj":
                raise PdfError(f"object {objnum}: bad header at {entry[1]}")
            obj = lex.read_object()
            try:
                gen = int(gen_tok)
            except ValueError:
                gen = 0
            if isinstance(obj, StreamObj):
                obj.objnum = objnum
                obj.gen = gen
            elif self.crypto is not None:
                # Strings in directly-stored objects are encrypted with
                # the per-object key (objects inside object streams are
                # covered by the container stream's decryption).
                obj = self._decrypt_strings(obj, objnum, gen)
        else:
            _, stm_num, idx = entry
            objs = self._load_object_stream(stm_num)
            obj = objs[idx] if idx < len(objs) else None
        self._cache[objnum] = obj
        return obj

    def _load_object_stream(self, stm_num: int) -> list:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stream = self.get_object(stm_num)
        if not isinstance(stream, StreamObj):
            raise PdfError(f"object stream {stm_num} missing")
        raw = self._stream_bytes(stream)
        n = int(self.resolve(stream.dict["N"]))
        first = int(self.resolve(stream.dict["First"]))
        header = Lexer(raw, 0)
        offsets = []
        for _ in range(n):
            header.skip_ws()
            header.read_token_word()  # obj num (implicit order)
            header.skip_ws()
            offsets.append(int(header.read_token_word()))
        objs = []
        for off in offsets:
            objs.append(Lexer(raw, first + off).read_object())
        self._objstm_cache[stm_num] = objs
        return objs

    # ----------------------------------------------------------- streams

    def _decrypt_strings(self, obj, objnum: int, gen: int):
        """Recursively decrypt string values of a directly-stored
        object (PDF strings are encrypted with the per-object key)."""
        if isinstance(obj, (bytes, bytearray)):
            return self.crypto.decrypt(bytes(obj), objnum, gen)
        if isinstance(obj, list):
            return [self._decrypt_strings(v, objnum, gen) for v in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_strings(v, objnum, gen)
                    for k, v in obj.items()}
        return obj

    def _stream_bytes(self, stream: StreamObj) -> bytes:
        length = self.resolve(stream.dict.get("Length"))
        if length is None:
            # salvage: scan for 'endstream'
            end = self.data.find(b"endstream", stream.data_pos)
            length = end - stream.data_pos if end >= 0 else 0
        raw = self.data[stream.data_pos : stream.data_pos + int(length)]
        if (self.crypto is not None and stream.objnum is not None
                and str(self.resolve(
                    stream.dict.get("Type", ""))) != "XRef"):
            raw = self.crypto.decrypt(raw, stream.objnum, stream.gen)
        return self._decode(raw, stream.dict)

    def _decode(self, raw: bytes, d: dict) -> bytes:
        filters = self.resolve(d.get("Filter"))
        if filters is None:
            return raw
        if isinstance(filters, (Name, str)):
            filters = [filters]
        parms = self.resolve(d.get("DecodeParms"))
        if not isinstance(parms, list):
            parms = [parms]
        out = raw
        for i, f in enumerate(filters):
            fname = str(self.resolve(f))
            parm = self.resolve(parms[i]) if i < len(parms) else None
            if fname in ("FlateDecode", "Fl"):
                out, _ = budget.inflate(out, zlib.MAX_WBITS,
                                        "FlateDecode stream")
                if isinstance(parm, dict) and int(
                        self.resolve(parm.get("Predictor", 1))) >= 10:
                    out = _png_predictor(
                        out,
                        int(self.resolve(parm.get("Columns", 1))),
                        int(self.resolve(parm.get("Colors", 1))),
                        int(self.resolve(parm.get("BitsPerComponent", 8))))
            elif fname in ("ASCIIHexDecode", "AHx"):
                hexstr = re.sub(rb"[^0-9A-Fa-f]", b"", out.split(b">")[0])
                if len(hexstr) % 2:
                    hexstr += b"0"
                out = bytes.fromhex(hexstr.decode("latin-1"))
            elif fname in ("ASCII85Decode", "A85"):
                import base64
                body = out.split(b"~>")[0].replace(b"\n", b"").replace(b"\r", b"")
                out = base64.a85decode(body)
            elif fname in ("LZWDecode", "LZW"):
                early = 1
                if isinstance(parm, dict):
                    early = int(self.resolve(parm.get("EarlyChange", 1)))
                out = _lzw_decode(out, early)
                if isinstance(parm, dict) and int(
                        self.resolve(parm.get("Predictor", 1))) >= 10:
                    out = _png_predictor(
                        out,
                        int(self.resolve(parm.get("Columns", 1))),
                        int(self.resolve(parm.get("Colors", 1))),
                        int(self.resolve(parm.get("BitsPerComponent", 8))))
            elif fname in ("RunLengthDecode", "RL"):
                out = _rle_decode(out)
            else:
                # image codecs (DCT/CCITT/JBIG2/JPX) never reach the text
                # layer; leave bytes untouched (reference skips them too)
                return out
        return out

    def stream_data(self, obj) -> bytes:
        obj = self.resolve(obj)
        if not isinstance(obj, StreamObj):
            raise PdfError("not a stream")
        return self._stream_bytes(obj)

    # -------------------------------------------------------------- pages

    def get_pages(self) -> list[dict]:
        """Walk the /Pages tree -> ordered page dicts with inheritable
        attributes resolved (reference getPageObjects,
        parsePdfUtils.js:1229)."""
        root = self.resolve(self.trailer["Root"])
        pages_ref = root.get("Pages")
        pages = []
        inheritable = ("Resources", "MediaBox", "CropBox", "Rotate")

        def walk(node_ref, inherited, depth=0):
            if depth > 64:
                return
            node = self.resolve(node_ref)
            if node is None:
                return
            inh = dict(inherited)
            for key in inheritable:
                if key in node:
                    inh[key] = node[key]
            ntype = str(node.get("Type", ""))
            if ntype == "Page" or ("Kids" not in node and "Contents" in node):
                page = dict(node)
                for key in inheritable:
                    if key not in page and key in inh:
                        page[key] = inh[key]
                pages.append(page)
                return
            for kid in self.resolve(node.get("Kids", [])) or []:
                walk(kid, inh, depth + 1)

        walk(pages_ref, {})
        return pages

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, list):
            parts = []
            for c in contents:
                try:
                    parts.append(self.stream_data(c))
                except Exception:
                    continue
            return b"\n".join(parts)
        return self._stream_bytes(contents)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (PDF 7.4.4 / TIFF variable-width LZW): 9->12-bit codes
    MSB-first, 256 = clear table, 257 = EOD; with EarlyChange (the
    default) the code width grows one entry early. Content streams in
    pre-Flate-era PDFs use this filter."""
    out = bytearray()
    limit = budget.DECODE_BUDGET
    base = {i: bytes([i]) for i in range(256)}
    table = dict(base)
    next_code = 258
    code_bits = 9
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= code_bits:
            code = (acc >> (nbits - code_bits)) & ((1 << code_bits) - 1)
            nbits -= code_bits
            if code == 256:  # clear
                table = dict(base)
                next_code = 258
                code_bits = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise PdfError("LZW: bad initial code")
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]
                else:
                    raise PdfError("LZW: code out of range")
                table[next_code] = prev + entry[:1]
                next_code += 1
            out += entry
            if len(out) > limit:
                budget.check_budget(len(out), "LZWDecode stream")
            prev = entry
            if (next_code + early_change >= (1 << code_bits)
                    and code_bits < 12):
                code_bits += 1
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (PDF 7.4.5): length byte 0-127 = copy next n+1
    literally, 129-255 = repeat next byte 257-n times, 128 = EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - length)
                i += 1
    return bytes(out)


def _png_predictor(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data) + row_len:
        if pos >= len(data):
            break
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos : pos + row_len])
        pos += row_len
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out.extend(row)
        prev = row
    return bytes(out)
