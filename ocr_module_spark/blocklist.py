"""Pure-Python block-list (PDF-derived) payload parser.

The graft models PDF-derived documents as JSON-encoded page block lists with
exactly the tuple shape of PyMuPDF ``extractBLOCKS`` —
``(x0, y0, x1, y1, content, block_no, block_type)`` per block — mirroring
the reference's local-PDF path
(reference: ocr_module/adapters/infra/pymupdf/pymupdf_ocr_repository.py:195-234).

Payload format (produced by corpus.py, FIXTURES.md §3 P1)::

    {"format": "blocks",
     "pages": [{"width": W, "height": H,
                "blocks": [[x0,y0,x1,y1,"content",block_no,block_type], ...],
                "formulas": ["latex", ...]},
               ...]}

Semantics pinned here (asserted by tests):

* ``block_type == 0`` → paragraph, ``== 1`` → figure (reference
  pymupdf_ocr_repository.py:201,219 — P2 in SURVEY.md §2.2).
* Landscape pages (width > height) get the orientation-normalizing bbox
  transform ``(w − y1, x0, w − y0, x1)``; portrait passes through
  (reference pymupdf_ocr_repository.py:206-228 — P3).
* Reading order = page order, then block order within page; ``block_no``
  output is the dense global index (reference assigns ids with running
  counters — W1; we implement the *intended* semantics, not the
  element-doubling defect documented in SURVEY.md §2.10).
* Per-page ``formulas`` are inline payloads for ``:formula:`` placeholder
  alignment, consumed in reading order (usecase/change_formula_id.py:50-64).
* bbox values are floats in inches (azure_ocr_repository.py:43-45); text is
  whitespace-normalized exactly like the HTML path.
"""

from __future__ import annotations

import json
from typing import List

from .htmlparse import FORMULA_TOKEN, Block, ParseResult, _norm


def is_blocklist(payload: bytes) -> bool:
    head = payload.lstrip()[:60]
    return head.startswith(b'{"format": "blocks"') or head.startswith(b'{"format":"blocks"')


def parse_blocklist(payload: bytes) -> ParseResult:
    """Parse one block-list JSON payload into ordered blocks + payloads."""
    result = ParseResult(path="blocklist")
    try:
        doc = json.loads(payload.decode("utf-8", errors="replace"))
        pages = doc.get("pages", [])
    except Exception:
        return result

    out_no = 0
    for pno, page in enumerate(pages):
        try:
            w = float(page.get("width", 0.0))
            h = float(page.get("height", 0.0))
            raw_blocks = page.get("blocks", [])
        except AttributeError:
            continue
        landscape = w > h
        for rb in raw_blocks:
            if not isinstance(rb, (list, tuple)) or len(rb) < 7:
                continue
            x0, y0, x1, y1, content, _src_no, btype = rb[:7]
            x0, y0, x1, y1 = float(x0), float(y0), float(x1), float(y1)
            if landscape:
                bbox = [w - y1, x0, w - y0, x1]
            else:
                bbox = [x0, y0, x1, y1]
            text = _norm(str(content))
            kind = "figure" if btype == 1 else "paragraph"
            if kind == "paragraph" and not text:
                continue
            result.blocks.append(Block(
                page_number=pno,
                block_no=out_no,
                kind=kind,
                role=None,
                tag_path="pdf/block",
                depth=1,
                text=text if kind == "paragraph" else "",
                text_len=len(text) if kind == "paragraph" else 0,
                link_text_len=0,
                bbox=bbox,
                section_id=0,
                n_tokens=text.count(FORMULA_TOKEN) if kind == "paragraph" else 0,
            ))
            out_no += 1
        for latex in page.get("formulas", []) or []:
            result.payloads.append((pno, str(latex)))
    return result


def make_blocklist_payload(pages: List[dict]) -> bytes:
    """Serialize pages (dicts with width/height/blocks/formulas) to payload bytes."""
    return json.dumps({"format": "blocks", "pages": pages},
                      ensure_ascii=False, sort_keys=False).encode("utf-8")
