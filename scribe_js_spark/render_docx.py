"""Minimal DOCX renderer for the fixture layout model: a real zip with
[Content_Types].xml + word/document.xml, one ``<w:p>`` per model
paragraph (like the plain-text family, restricted to one model page so
synthetic pagination never splits a paragraph)."""

from __future__ import annotations

import io
import zipfile

from .functions.textnorm import escape_xml

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>")

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>")


def _numbering_xml(spec: dict) -> str:
    """word/numbering.xml from {'abstract': {id: {ilvl: {start, numFmt,
    lvlText}}}, 'nums': {numId: abstractId}}."""
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<w:numbering xmlns:w="http://schemas.openxmlformats.org/'
             'wordprocessingml/2006/main">']
    for aid, levels in spec["abstract"].items():
        parts.append(f'<w:abstractNum w:abstractNumId="{aid}">')
        for ilvl, lvl in levels.items():
            parts.append(
                f'<w:lvl w:ilvl="{ilvl}">'
                f'<w:start w:val="{lvl.get("start", 1)}"/>'
                f'<w:numFmt w:val="{lvl.get("numFmt", "decimal")}"/>'
                f'<w:lvlText w:val="{lvl.get("lvlText", "")}"/>'
                "</w:lvl>")
        parts.append("</w:abstractNum>")
    for num_id, aid in spec["nums"].items():
        parts.append(
            f'<w:num w:numId="{num_id}">'
            f'<w:abstractNumId w:val="{aid}"/></w:num>')
    parts.append("</w:numbering>")
    return "".join(parts)


def render_docx(model: dict) -> bytes:
    pars_xml = []
    for page in model["pages"]:
        for par in page["pars"]:
            words = [
                w["text"] for line in par["lines"] for w in line["words"]]
            ppr = ""
            num = par.get("num")
            if num:
                ppr = (
                    "<w:pPr><w:numPr>"
                    f'<w:ilvl w:val="{num.get("ilvl", 0)}"/>'
                    f'<w:numId w:val="{num["numId"]}"/>'
                    "</w:numPr></w:pPr>")
            runs = f"<w:r><w:t>{escape_xml(' '.join(words))}</w:t></w:r>"
            for fid in par.get("footnote_refs", ()):
                runs += (f'<w:r><w:rPr><w:vertAlign w:val="superscript"/>'
                         f'</w:rPr><w:footnoteReference w:id="{fid}"/>'
                         f"</w:r>")
            pars_xml.append(f"<w:p>{ppr}{runs}</w:p>")
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + "".join(pars_xml) + "</w:body></w:document>")
    buf = io.BytesIO()

    def _entry(name: str) -> zipfile.ZipInfo:
        # Fixed timestamp: ZipFile defaults to wall-clock mtime, which
        # makes fixture bytes differ run-to-run (breaks byte-equivalence
        # checks against a cached corpus).
        zi = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
        zi.compress_type = zipfile.ZIP_DEFLATED
        return zi

    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(_entry("[Content_Types].xml"), _CONTENT_TYPES)
        zf.writestr(_entry("_rels/.rels"), _RELS)
        zf.writestr(_entry("word/document.xml"), document)
        if model.get("docx_numbering"):
            zf.writestr(_entry("word/numbering.xml"),
                        _numbering_xml(model["docx_numbering"]))
        if model.get("docx_footnotes"):
            zf.writestr(_entry("word/footnotes.xml"),
                        _footnotes_xml(model["docx_footnotes"]))
    return buf.getvalue()


def _footnotes_xml(footnotes: dict) -> str:
    """word/footnotes.xml with the conventional separator footnotes
    (ids -1/0, which importers must skip) plus one <w:footnote> per
    entry, each starting with a <w:footnoteRef/> marker run."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:footnotes xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main">',
        '<w:footnote w:type="separator" w:id="-1"><w:p><w:r>'
        "<w:separator/></w:r></w:p></w:footnote>",
        '<w:footnote w:type="continuationSeparator" w:id="0"><w:p>'
        "<w:r><w:continuationSeparator/></w:r></w:p></w:footnote>",
    ]
    for fid, text in footnotes.items():
        parts.append(
            f'<w:footnote w:id="{fid}"><w:p><w:r><w:rPr>'
            f'<w:vertAlign w:val="superscript"/></w:rPr>'
            f"<w:footnoteRef/></w:r><w:r><w:t>"
            f"{escape_xml(text)}</w:t></w:r></w:p></w:footnote>")
    parts.append("</w:footnotes>")
    return "".join(parts)
