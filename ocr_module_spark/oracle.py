"""Single-document extraction oracle — the executable spec.

``extract_document`` is a pure function: one ``(url, payload)`` in, one
extraction-result dict out (FIXTURES.md §5 schema). It composes the shared
parse (htmlparse/blocklist), classification (classify) and placeholder-
alignment logic. The Spark pipeline's fast path runs THIS function inside
one ``mapInArrow`` stage; pytest runs it directly on golden
fixtures. One implementation, two harnesses — that is how the per-url
byte-identity contract of BASELINE.json is pinned.

Semantics grafted from the reference (citations per step):

* id assignment: dense, strictly increasing in reading order, separately
  per entity kind — reference running counters
  (azure_ocr_repository.py:339,377,428,481; W1 in SURVEY.md §2.5);
* placeholder alignment: the k-th ``:formula:`` token on a page (counting
  over kept paragraphs in reading order, counter resets per page) is
  rewritten to ``<formula_k/>`` — reference per-page running counter
  (usecase/change_formula_id.py:50-64; W2/J11);
* mismatch audit: a page whose token count differs from its payload count
  flags the document (azure_ocr_repository.py:236-240; A5);
* section membership: kept elements grouped by section with id-lists,
  the reference's pointer-membership join result
  (azure_ocr_repository.py:504-659; J1-J3);
* text assembly: ``"\n".join`` of kept paragraph contents in reading order
  (usecase/change_formula_id.py:27-29; F9) — the byte-identity surface.
"""

from __future__ import annotations

import json
import re
from typing import Dict, List, Optional

# Jackson (Spark to_json) writes control-char escapes with UPPERCASE hex
# (backslash-u001F); json.dumps writes lowercase. Uppercase exactly the real
# escapes: a \u00xx whose run of preceding backslashes has even length
# (an odd run means the backslash itself is escaped content, e.g. a
# literal '\' + 'u001f' in a span serializes as '\\u001f' and must NOT
# be touched).
_CTRL_ESC_RE = re.compile(r"(?<!\\)((?:\\\\)*)\\u00([0-9a-f]{2})")

from .blocklist import is_blocklist, parse_blocklist
from .classify import keep_block
from .htmlparse import FORMULA_TOKEN, ParseResult, parse_html


def parse_payload(payload: Optional[bytes]) -> ParseResult:
    """Dispatch one payload to the HTML or block-list parser; the result's
    ``path`` names the parser that ran ('empty' when there is no payload)."""
    if not payload:
        return ParseResult()
    if is_blocklist(payload):
        return parse_blocklist(payload)
    return parse_html(payload)


def parse_payload_tagged(payload: Optional[bytes]):
    """``(parse_payload(payload), path)``."""
    parsed = parse_payload(payload)
    return parsed, parsed.path


def rewrite_placeholders(text: str, start_index: int) -> str:
    """Replace the i-th ``:formula:`` occurrence with ``<formula_{start+i}/>``.

    Sequential replace-first semantics (order-sensitive — reference iterates
    ``str.replace(token, tag, 1)``: change_formula_id.py:55-58). Implemented
    as split+rejoin, which is equivalent and O(n).
    """
    parts = text.split(FORMULA_TOKEN)
    if len(parts) == 1:
        return text
    out = [parts[0]]
    for i, rest in enumerate(parts[1:]):
        out.append(f"<formula_{start_index + i}/>")
        out.append(rest)
    return "".join(out)


def document_to_json(result: Dict) -> str:
    """Nested Document-shaped JSON (S9): one JSON document per url with
    the dual page/section view, mirroring the reference's
    ``Document.to_json`` surface (entities/__init__.py:40-48 — pages
    partition elements physically, sections logically; binary payloads
    excluded per page_models.py:62-65).

    Serialization format is pinned: compact separators, raw UTF-8
    (no \\u escapes for non-ASCII), null fields present — chosen to be
    byte-identical with Spark's ``to_json(struct(...),
    ignoreNullFields=false)`` (Jackson), which tests assert over the
    corpus. Every page 0..n_pages-1 appears even when it has no kept
    paragraphs.
    """
    pages = []
    for p in range(result["n_pages"]):
        paras = [
            {"paragraph_id": s["paragraph_id"],
             "page_number": s["page_number"],
             "role": s["role"],
             "bbox": s["bbox"],
             "content": s["content"]}
            for s in result["spans"] if s["page_number"] == p
        ]
        pages.append({"page_number": p, "paragraphs": paras})
    doc = {
        "url": result["url"],
        "n_pages": result["n_pages"],
        "mismatch_flag": result["mismatch_flag"],
        "pages": pages,
        "sections": [
            {"section_id": s["section_id"],
             "paragraph_ids": s["paragraph_ids"],
             "table_ids": s["table_ids"],
             "figure_ids": s["figure_ids"]}
            for s in result["sections"]],
    }
    j = json.dumps(doc, ensure_ascii=False, separators=(",", ":"))
    return _CTRL_ESC_RE.sub(
        lambda m: m.group(1) + "\\u00" + m.group(2).upper(), j)


def extract_document(url: str, payload: Optional[bytes]) -> Dict:
    """Extract one document. Returns the FIXTURES.md §5 row as a dict."""
    return assemble_document(url, parse_payload(payload))


def extract_document_tagged(url: str, payload: Optional[bytes]):
    """``(extract_document(url, payload), path)``."""
    parsed = parse_payload(payload)
    return assemble_document(url, parsed), parsed.path


def assemble_document(url: str, parsed: ParseResult) -> Dict:
    """Classify, id, align and assemble one parsed document into the
    FIXTURES.md §5 row (``extract_document`` minus the parse)."""
    blocks = parsed.blocks

    # classification (boilerplate strip)
    kept = [b for b in blocks if keep_block(b.kind, b.role, b.text_len, b.link_text_len)]

    # dense ids per kind, reading order (W1)
    paragraphs = [b for b in kept if b.kind == "paragraph"]

    # payload counts per page for the mismatch audit (A5)
    payloads_per_page: Dict[int, int] = {}
    for page, _latex in parsed.payloads:
        payloads_per_page[page] = payloads_per_page.get(page, 0) + 1

    # per-page running counter rewrite (W2/J11)
    spans: List[Dict] = []
    tokens_per_page: Dict[int, int] = {}
    counters: Dict[int, int] = {}
    for pid, b in enumerate(paragraphs):
        start = counters.get(b.page_number, 0)
        content = rewrite_placeholders(b.text, start) if b.n_tokens else b.text
        counters[b.page_number] = start + b.n_tokens
        tokens_per_page[b.page_number] = tokens_per_page.get(b.page_number, 0) + b.n_tokens
        spans.append({
            "paragraph_id": pid,
            "page_number": b.page_number,
            "role": b.role,
            "bbox": b.bbox,
            "content": content,
        })

    mismatch = any(
        tokens_per_page.get(p, 0) != payloads_per_page.get(p, 0)
        for p in set(tokens_per_page) | set(payloads_per_page)
    )

    # section membership (J1-J3): id-lists per section over kept elements.
    # Single ordered pass: blocks are emitted in document order and
    # section_id (= headings emitted so far) is non-decreasing, so
    # grouping on change-of-sid visits sections in ascending order and
    # per-kind dense ids are just running counters — identical output to
    # the former sorted-sids × kept-scan double loop, without the
    # per-section rescan (pinned by the golden fixtures + hostile corpus).
    sections: List[Dict] = []
    cur_sid = -1
    pid_ctr = tid_ctr = fid_ctr = 0
    for b in kept:
        if b.section_id != cur_sid:
            cur_sid = b.section_id
            cur = {"section_id": cur_sid, "paragraph_ids": [],
                   "table_ids": [], "figure_ids": []}
            sections.append(cur)
        if b.kind == "paragraph":
            cur["paragraph_ids"].append(pid_ctr)
            pid_ctr += 1
        elif b.kind == "table":
            cur["table_ids"].append(tid_ctr)
            tid_ctr += 1
        else:
            cur["figure_ids"].append(fid_ctr)
            fid_ctr += 1

    # blocks are in reading order, page_number = block_no // PAGE_BLOCKS
    # is non-decreasing: the last block carries the max
    n_pages = (blocks[-1].page_number + 1) if blocks else 0

    return {
        "url": url,
        "text": "\n".join(s["content"] for s in spans),
        "spans": spans,
        "sections": sections,
        "n_pages": n_pages,
        "mismatch_flag": bool(mismatch),
    }
