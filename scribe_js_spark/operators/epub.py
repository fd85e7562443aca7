"""EPUB (OCF container) conversion — crawled e-books.

The reference has no EPUB path; a crawl-scale engine needs one. The
container is public structure end to end: an OCF zip whose first entry
is the ``mimetype`` (stored uncompressed per spec),
``META-INF/container.xml`` naming the OPF package file, the OPF
manifest mapping ids to hrefs and its ``<spine>`` giving reading
order. Each spine chapter is XHTML and runs through the same
main-content extractor as raw web pages (operators/webhtml.py), one
page per chapter, so EPUB text inherits the web family's reflow
semantics and boilerplate handling.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile

from .archive import read_member

_FULLPATH_RE = re.compile(r'full-path="([^"]+)"')
_ITEM_RE = re.compile(r"<item\b[^>]*>", re.I)
_ITEMREF_RE = re.compile(r'<itemref\b[^>]*idref="([^"]+)"', re.I)
_ATTR_ID_RE = re.compile(r'\bid="([^"]+)"')
_ATTR_HREF_RE = re.compile(r'\bhref="([^"]+)"')


def convert_doc_epub(data: bytes, page_dims: dict | None = None) -> list:
    """EPUB bytes -> OcrPage list (one page per spine chapter)."""
    from .plaintext import convert_doc_text
    from .webhtml import extract_main_content

    zf = zipfile.ZipFile(io.BytesIO(data))
    names = set(zf.namelist())
    if "META-INF/container.xml" not in names:
        raise ValueError("epub: missing META-INF/container.xml")
    container = read_member(zf, "META-INF/container.xml").decode(
        "utf-8", "replace")
    m = _FULLPATH_RE.search(container)
    if not m:
        raise ValueError("epub: container.xml names no rootfile")
    opf_path = m.group(1)
    if opf_path not in names:
        raise ValueError(f"epub: missing package file {opf_path}")
    opf = read_member(zf, opf_path).decode("utf-8", "replace")

    items: dict[str, str] = {}
    for tag in _ITEM_RE.findall(opf):
        mid = _ATTR_ID_RE.search(tag)
        mhref = _ATTR_HREF_RE.search(tag)
        if mid and mhref:
            items[mid.group(1)] = mhref.group(1)
    base = posixpath.dirname(opf_path)

    pages = []
    for idref in _ITEMREF_RE.findall(opf):
        href = items.get(idref)
        if not href:
            continue
        path = posixpath.normpath(posixpath.join(base, href))
        if path not in names:
            continue
        xhtml = read_member(zf, path).decode("utf-8", "replace")
        paras = extract_main_content(xhtml)
        for page in convert_doc_text("\n\n".join(paras),
                                     page_dims=page_dims):
            page.n = len(pages)
            page.textSource = "epub"
            pages.append(page)
    if not pages:
        raise ValueError("epub: no readable spine chapters")
    return pages
