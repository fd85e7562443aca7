"""Google Cloud Vision JSON converter.

Semantics of /root/reference/js/import/convertPageGoogleVision.js:21-220:
``fullTextAnnotation.pages[0].blocks[].paragraphs[].words[].symbols``
with vertex (or normalizedVertices) bounding boxes; lines split on
symbols carrying detectedBreak LINE_BREAK / EOL_SURE_SPACE; paragraphs
come directly from the Vision paragraph tree; conf = word confidence x
100; line metrics estimated from median word height; then pass3.
"""

from __future__ import annotations

import json
import math

from ..model import Bbox, OcrLine, OcrPage, OcrPar, OcrWord, bbox_union
from .shared import pass3


def convert_page_google_vision(ocr_str: str, n: int,
                               page_dims: dict | None = None):
    ocr_json = json.loads(ocr_str)
    if ocr_json.get("fullTextAnnotation"):
        vision = ocr_json
    elif (ocr_json.get("responses") or [{}])[0].get("fullTextAnnotation"):
        vision = ocr_json["responses"][0]
    elif isinstance(ocr_json, list) and ocr_json:
        vision = ocr_json[0]
    else:
        vision = None
    if not vision or not vision.get("fullTextAnnotation"):
        raise ValueError("Failed to parse Google Vision OCR data.")

    page_vision = vision["fullTextAnnotation"]["pages"][0]
    page_w = page_vision.get("width")
    page_h = page_vision.get("height")
    if not page_w or not page_h:
        raise ValueError("Failed to parse page dimensions.")
    scale_x = page_dims["width"] / page_w if page_dims else 1
    scale_y = page_dims["height"] / page_h if page_dims else 1

    def vertices(bb):
        if bb.get("vertices"):
            return [((v.get("x") or 0) * scale_x, (v.get("y") or 0) * scale_y)
                    for v in bb["vertices"]]
        if bb.get("normalizedVertices"):
            return [((v.get("x") or 0) * page_w * scale_x,
                     (v.get("y") or 0) * page_h * scale_y)
                    for v in bb["normalizedVertices"]]
        raise ValueError("No vertices found in bounding box.")

    def vbox(bb) -> Bbox:
        vs = vertices(bb)
        xs = [v[0] for v in vs]
        ys = [v[1] for v in vs]
        return Bbox(min(xs), min(ys), max(xs), max(ys))

    page_obj = OcrPage(
        n, page_dims or {"width": page_w, "height": page_h})
    page_obj.textSource = "google_vision"

    for block_index, block in enumerate(page_vision.get("blocks") or []):
        for par_index, paragraph in enumerate(block.get("paragraphs") or []):
            words_vision = paragraph.get("words")
            if not words_vision:
                continue
            par_obj = OcrPar(page_obj, vbox(paragraph["boundingBox"]))
            par_obj.reason = str(block.get("blockType") or "TEXT")

            line_obj = OcrLine(page_obj, Bbox(0, 0, 0, 0), [0, 0])
            line_index = 0
            for word_index, word in enumerate(words_vision):
                symbols = word.get("symbols")
                if not symbols:
                    continue
                wid = (f"word_{n + 1}_{block_index + 1}_{par_index + 1}"
                       f"_{line_index + 1}_{word_index + 1}")
                word_text = "".join(s.get("text") or "" for s in symbols)
                word_obj = OcrWord(line_obj, wid, word_text,
                                   vbox(word["boundingBox"]))
                word_obj.conf = (word.get("confidence") or 0) * 100
                line_obj.words.append(word_obj)

                has_break = any(
                    ((s.get("property") or {}).get("detectedBreak") or {})
                    .get("type") in ("LINE_BREAK", "EOL_SURE_SPACE")
                    for s in symbols)
                if has_break or word_index == len(words_vision) - 1:
                    if line_obj.words:
                        line_obj.bbox = bbox_union(
                            [w.bbox for w in line_obj.words])
                        heights = sorted(
                            w.bbox.bottom - w.bbox.top for w in line_obj.words)
                        median_h = heights[math.floor(len(heights) / 2)]
                        line_obj.ascHeight = median_h * 2 / 3
                        line_obj.baseline[1] = -median_h / 3
                        page_obj.lines.append(line_obj)
                        par_obj.lines.append(line_obj)
                        line_obj.par = par_obj
                        line_index += 1
                    if word_index != len(words_vision) - 1:
                        line_obj = OcrLine(page_obj, Bbox(0, 0, 0, 0), [0, 0])

            if par_obj.lines:
                page_obj.pars.append(par_obj)

    for line in page_obj.lines:
        line.bbox = bbox_union([w.bbox for w in line.words])

    page_obj.angle = 0.0
    lang_set = pass3(page_obj)
    return page_obj, lang_set


def convert_doc_google_vision(ocr_str: str) -> list[OcrPage]:
    """A Vision document: one response, or a ``responses`` list with one
    response per page, sorted by context.pageNumber
    (importOCR.js:126-133)."""
    if '"responses"' not in ocr_str[:500]:
        return [convert_page_google_vision(ocr_str, 0)[0]]
    responses = sorted(
        json.loads(ocr_str)["responses"],
        key=lambda r: (r.get("context") or {}).get("pageNumber", 0))
    return [convert_page_google_vision(json.dumps(r), i)[0]
            for i, r in enumerate(responses)]
