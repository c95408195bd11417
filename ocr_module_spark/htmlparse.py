"""Pure-Python HTML → block-list parser (stdlib only, deterministic).

This is the HTML half of the parse operator (SURVEY.md §2.2 P1/P2/P4): it
turns one HTML payload into an ordered list of *blocks* — the analogue of
the reference's per-page ``extractBLOCKS`` output
(reference: ocr_module/adapters/infra/pymupdf/pymupdf_ocr_repository.py:195-198)
and of its paragraph-role model
(reference: ocr_module/adapters/infra/azure/azure_ocr_repository.py:320-354).

The function is **pure and per-document**: no cross-document state, no I/O,
no randomness. It is imported both by the pytest oracle (tests/) and by the
Arrow-batched Spark UDFs (pipeline.py); that shared implementation is what
pins the byte-identity contract of BASELINE.json.

Spec (pinned here, asserted by tests/test_oracle.py):

* Only content under ``<body>`` is considered; ``script/style/noscript/
  template/svg/head`` subtrees are ignored entirely.
* Block-emitting tags: p, h1-h6, li, pre, blockquote, figcaption, dt, dd.
  ``<table>`` emits ONE block of kind ``table`` (rows joined by ``\\n``,
  cells by ``\\t``); its cells do not emit paragraph blocks; nested
  tables flatten into the enclosing cell's text. ``<img>`` outside a
  table emits a ``figure`` block (text = alt text, not counted into main
  text), anchored at its point of occurrence even when inside an open
  paragraph. An ignored subtree (see above) ends only at the matching
  close of its root tag — void or stray end tags inside it cannot end it
  early.
* Reading order = document order; ``block_no`` is the 0-based global index
  of the emitted block.
* Synthetic pages: ``page_number = block_no // PAGE_BLOCKS`` (the graft input
  is paged the way the reference pages PDFs; FIXTURES.md §2 H5).
* Roles (reference role vocabulary, azure_ocr_repository.py:345):
  h1-h6 → ``sectionHeading``; any ancestor ``<nav>``/``<header>`` or class
  token ``nav``/``header``/``masthead`` → ``pageHeader``; ancestor
  ``<footer>`` or class token ``footer`` → ``pageFooter``; class token
  ``footnote`` → ``footnote``; class token ``formulablock`` →
  ``formulaBlock``; else None.
* ``section_id`` = number of heading blocks emitted strictly before this
  block, i.e. each sectionHeading starts a new section that it belongs to;
  preamble before the first heading is section 0.
* Text normalization per block: runs of whitespace collapsed to one ASCII
  space, stripped. ``text_len`` = len of that text; ``link_text_len`` = the
  normalized length of the part of the text inside ``<a>`` descendants.
* Inline formula payloads: ``<span class="formula" data-latex="...">``
  elements contribute a payload (page_number, latex) attached to the page of
  the block being built (or the page the NEXT block would start if between
  blocks); the span's own text is NOT part of the block text. The literal
  token ``:formula:`` inside block text marks a placeholder site
  (reference: usecase/change_formula_id.py:50-64).
* Blocks with empty normalized text are emitted only for kinds figure/table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import List, Optional, Tuple

PAGE_BLOCKS = 10
FORMULA_TOKEN = ":formula:"

_WS_RE = re.compile(r"\s+")

_IGNORE_SUBTREE = {"script", "style", "noscript", "template", "svg", "head"}
_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "pre", "blockquote", "figcaption", "dt", "dd",
}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_HEADER_TAGS = {"nav", "header"}
_HEADER_CLASSES = {"nav", "header", "masthead"}
_FOOTER_TAGS = {"footer"}
_VOID_TAGS = {
    "img", "br", "hr", "meta", "link", "input", "area", "base",
    "col", "embed", "source", "track", "wbr",
}
_VOID_NONIMG = _VOID_TAGS - {"img"}

# One dict lookup classifies a tag for the handler hot paths (profiled:
# replacing the 4-5 set-membership probes per start/end tag with a single
# get() is ~5% of whole-document parse). Values are disjoint by
# construction: the tag sets above do not overlap.
_K_VOID_NONIMG, _K_IGNORE, _K_IMG, _K_TABLE, _K_BLOCK = 1, 2, 3, 4, 5
_TAG_KIND = {
    **{t: _K_VOID_NONIMG for t in _VOID_NONIMG},
    **{t: _K_IGNORE for t in _IGNORE_SUBTREE},
    "img": _K_IMG,
    "table": _K_TABLE,
    **{t: _K_BLOCK for t in _BLOCK_TAGS},
}


def _norm(text: str) -> str:
    # equivalent to _WS_RE.sub(" ", text).strip() (verified char-by-char
    # over the BMP) but ~2x faster
    return " ".join(text.split())


@dataclass(slots=True)
class Block:
    page_number: int
    block_no: int
    kind: str                 # paragraph | figure | table
    role: Optional[str]
    tag_path: str
    depth: int
    text: str
    text_len: int
    link_text_len: int
    bbox: Optional[List[float]]
    section_id: int
    n_tokens: int             # count of FORMULA_TOKEN occurrences in text


@dataclass
class ParseResult:
    blocks: List[Block] = field(default_factory=list)
    payloads: List[Tuple[int, str]] = field(default_factory=list)  # (page, latex)
    # the parser that produced this result: 'fast' | 'stdlib' | 'blocklist',
    # or 'empty' for a missing payload (feeds the sink's parse-path counters)
    path: str = "empty"


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.result = ParseResult()
        # stack frame: (tag, context-flag bitmask, path length before push)
        self._stack: List[Tuple[str, int, int]] = []
        # incremental "/".join(tag for tag, _, _ in self._stack): rebuilt
        # per-push/pop in O(depth) instead of per-emitted-block
        self._path = ""
        self._ignore_depth = 0
        self._ignore_tag: Optional[str] = None
        self._a_depth = 0
        # O(1) role context: count of open elements contributing each
        # context (replaces per-emit set rebuilds; same semantics)
        self._footer_ctx = 0
        self._header_ctx = 0
        self._footnote_ctx = 0
        self._formulablock_ctx = 0
        self._formula_span_depth = 0
        # current open block accumulation
        self._block_tag: Optional[str] = None
        self._block_path: str = ""
        self._block_depth: int = 0
        self._block_parts: List[str] = []
        self._block_link_parts: List[str] = []
        self._block_role: Optional[str] = None
        # table accumulation
        self._table_depth = 0
        self._table_rows: List[List[str]] = []
        self._cell_parts: Optional[List[str]] = None
        # counters
        self._n_headings = 0

    # -- helpers -----------------------------------------------------------
    def _classes(self, attrs) -> str:
        if not attrs:
            return ""
        for k, v in attrs:
            if k == "class" and v:
                return v.lower()
        return ""

    def _attr(self, attrs, name: str) -> Optional[str]:
        for k, v in attrs:
            if k == name:
                return v
        return None

    _F_A = 1
    _F_SPAN = 2
    _F_FOOTER = 4
    _F_HEADER = 8
    _F_FOOTNOTE = 16
    _F_FORMULABLOCK = 32

    # class-free fast path: flags depend only on the tag (the common case
    # by far — profiled ~95% of pushes); must stay consistent with
    # _flags_for's cls='' branch
    _TAG_FLAGS = {"a": 1, "footer": 4, "nav": 8, "header": 8}

    def _flags_for(self, tag: str, cls: str) -> int:
        if not cls:
            return self._TAG_FLAGS.get(tag, 0)
        f = 0
        if tag == "a":
            f |= self._F_A
        classes = cls.split()
        if tag == "span" and "formula" in classes:
            f |= self._F_SPAN
        if tag in _FOOTER_TAGS or "footer" in classes:
            f |= self._F_FOOTER
        if tag in _HEADER_TAGS or not _HEADER_CLASSES.isdisjoint(classes):
            f |= self._F_HEADER
        if "footnote" in classes:
            f |= self._F_FOOTNOTE
        if "formulablock" in classes:
            f |= self._F_FORMULABLOCK
        return f

    def _apply_flags(self, f: int, d: int) -> None:
        """Adjust the O(1) role-context counters for one stack frame's
        flag bitmask (d=+1 on push, -1 on pop)."""
        if f & self._F_A:
            self._a_depth += d
        if f & self._F_SPAN:
            self._formula_span_depth += d
        if f & self._F_FOOTER:
            self._footer_ctx += d
        if f & self._F_HEADER:
            self._header_ctx += d
        if f & self._F_FOOTNOTE:
            self._footnote_ctx += d
        if f & self._F_FORMULABLOCK:
            self._formulablock_ctx += d

    def _push(self, tag: str, cls: str) -> int:
        # NOTE: mirrored inline in handle_starttag's kind-0 fast path —
        # any change here must be applied there too (pinned by the
        # fast-vs-stdlib equivalence + golden suites either way)
        f = (self._TAG_FLAGS.get(tag, 0) if not cls
             else self._flags_for(tag, cls))
        path = self._path
        self._stack.append((tag, f, len(path)))
        self._path = path + "/" + tag if path else tag
        if f:
            self._apply_flags(f, 1)
        return f

    def _role_for(self, tag: str, own_class: str) -> Optional[str]:
        # identical decision order to the original set-based version; the
        # stack contribution comes from the maintained counters, the
        # candidate element's own tag/class is evaluated here
        if (not own_class and not self._formulablock_ctx
                and not self._footnote_ctx and not self._footer_ctx
                and not self._header_ctx):
            # common case: no class attr, no open role context — the role
            # depends only on the tag (same outcomes as the full chain)
            if tag in _HEADING_TAGS:
                return "sectionHeading"
            if tag in _FOOTER_TAGS:
                return "pageFooter"
            if tag in _HEADER_TAGS:
                return "pageHeader"
            return None
        own = own_class.split() if own_class else ()
        if self._formulablock_ctx or "formulablock" in own:
            return "formulaBlock"
        if self._footnote_ctx or "footnote" in own:
            return "footnote"
        if self._footer_ctx or tag in _FOOTER_TAGS or "footer" in own:
            return "pageFooter"
        if (self._header_ctx or tag in _HEADER_TAGS
                or not _HEADER_CLASSES.isdisjoint(own)):
            return "pageHeader"
        if tag in _HEADING_TAGS:
            return "sectionHeading"
        return None

    def _next_block_no(self) -> int:
        return len(self.result.blocks)

    def _cur_page(self) -> int:
        return self._next_block_no() // PAGE_BLOCKS

    def _emit(self, kind: str, role: Optional[str], tag_path: str, depth: int,
              text: str, link_text: str) -> None:
        text = _norm(text)
        if not text and kind == "paragraph":
            return
        # a sectionHeading starts a new section and belongs to it; blocks
        # before the first heading are section 0
        # (dual page/section view: reference section_models.py:7-28)
        if kind == "paragraph" and role == "sectionHeading":
            self._n_headings += 1
        blocks = self.result.blocks
        bno = len(blocks)
        # positional construction: ~25% cheaper than kwargs on the
        # slots dataclass, and _emit is a per-block hot path
        blocks.append(Block(
            bno // PAGE_BLOCKS, bno, kind, role, tag_path, depth,
            text, len(text), len(_norm(link_text)) if link_text else 0,
            None, self._n_headings, text.count(FORMULA_TOKEN)))

    def _flush_block(self) -> None:
        if self._block_tag is None:
            return
        tag = self._block_tag
        self._block_tag = None
        self._emit(
            "paragraph", self._block_role, self._block_path, self._block_depth,
            "".join(self._block_parts), "".join(self._block_link_parts),
        )
        self._block_parts = []
        self._block_link_parts = []
        self._block_role = None

    # -- HTMLParser hooks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        kind = _TAG_KIND.get(tag, 0)
        if kind == _K_VOID_NONIMG:
            return
        if self._ignore_depth:
            # only same-tag nesting deepens the ignored subtree: void or
            # stray end tags inside it can then never end it early
            if tag == self._ignore_tag:
                self._ignore_depth += 1
            return
        if kind == _K_IGNORE:
            self._ignore_tag = tag
            self._ignore_depth = 1
            return
        cls = self._classes(attrs) if attrs else ""

        if kind == 0:
            # common case by far (div/span/a/td/...): same decision order
            # as the kinded branches below — formula span first (payload
            # recorded even inside tables), then in-table structure —
            # with _push inlined (profiled: the call overhead alone is
            # ~2% of whole-document parse at ~50k pushes/3.5k docs)
            if tag == "span" and cls and "formula" in cls.split():
                latex = self._attr(attrs, "data-latex") or ""
                self.result.payloads.append((self._cur_page(), latex))
            elif self._table_depth == 1:
                # row/cell structure only at the outer table; nested
                # tables flatten into the enclosing cell's text
                if tag == "tr":
                    self._table_rows.append([])
                elif tag in ("td", "th"):
                    self._cell_parts = []
            # _push inlined for the flagless common case (identical flag
            # computation; counter updates delegated when any flag is set)
            f = (self._TAG_FLAGS.get(tag, 0) if not cls
                 else self._flags_for(tag, cls))
            path = self._path
            self._stack.append((tag, f, len(path)))
            self._path = path + "/" + tag if path else tag
            if f:
                self._apply_flags(f, 1)
            return

        if kind == _K_IMG:
            if self._table_depth == 0:
                alt = self._attr(attrs, "alt") or ""
                role = self._role_for(tag, cls)
                path = self._path + "/img"
                self._emit("figure", role, path, len(self._stack) + 1, alt, "")
            return

        if kind == _K_TABLE:
            if self._block_tag is not None:
                self._flush_block()
            self._table_depth += 1
            if self._table_depth == 1:
                self._table_rows = []
                self._cell_parts = None
            self._push(tag, cls)
            return

        # kind == _K_BLOCK
        if self._table_depth:
            # block tags inside a table contribute to the cell text only
            self._push(tag, cls)
            return
        if self._block_tag is not None:
            self._flush_block()
        self._block_tag = tag
        self._block_path = self._path + "/" + tag
        self._block_depth = len(self._stack) + 1
        self._block_parts = []
        self._block_link_parts = []
        self._block_role = self._role_for(tag, cls)
        self._push(tag, cls)

    def handle_endtag(self, tag):
        if self._ignore_depth:
            if tag == self._ignore_tag:
                self._ignore_depth -= 1
                if self._ignore_depth == 0:
                    self._ignore_tag = None
            return
        kind = _TAG_KIND.get(tag, 0)
        if kind == _K_VOID_NONIMG or kind == _K_IMG:
            return
        # pop matching tag from stack (tolerant of malformed nesting),
        # decrementing the context counters of every removed frame
        stack = self._stack
        if stack and stack[-1][0] == tag:
            # fast path: well-formed nesting pops the top frame
            _, f, plen = stack.pop()
            self._path = self._path[:plen]
            if f:
                self._apply_flags(f, -1)
        else:
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    self._path = self._path[:stack[i][2]]
                    for _, f, _ in stack[i:]:
                        if f:
                            self._apply_flags(f, -1)
                    del stack[i:]
                    break
        if kind == _K_TABLE and self._table_depth:
            self._table_depth -= 1
            if self._table_depth == 0:
                if self._cell_parts is not None and self._table_rows:
                    self._table_rows[-1].append(_norm("".join(self._cell_parts)))
                    self._cell_parts = None
                rows = ["\t".join(c for c in row) for row in self._table_rows if row]
                text = "\n".join(r for r in rows if r.strip())
                blocks = self.result.blocks
                bno = len(blocks)
                blocks.append(Block(
                    bno // PAGE_BLOCKS, bno, "table", None, "table",
                    len(self._stack) + 1, text, len(text), 0, None,
                    self._n_headings, text.count(FORMULA_TOKEN)))
            return
        if (self._table_depth == 1 and tag in ("td", "th")
                and self._cell_parts is not None):
            if self._table_rows:
                self._table_rows[-1].append(_norm("".join(self._cell_parts)))
            self._cell_parts = None
            return
        if kind == _K_BLOCK and self._block_tag is not None:
            self._flush_block()

    def handle_data(self, data):
        if self._ignore_depth or not data:
            return
        # text inside a formula span is payload-only, never block text
        if self._formula_span_depth:
            return
        if self._table_depth:
            if self._cell_parts is not None:
                self._cell_parts.append(data)
            return
        if self._block_tag is not None:
            self._block_parts.append(data)
            if self._a_depth:
                self._block_link_parts.append(data)

    def close(self):
        super().close()
        self._flush_block()


def parse_html_stdlib(payload: bytes) -> ParseResult:
    """Reference tokenization path: stdlib html.parser (the executable
    spec; the fast path must match it byte-for-byte or is not used)."""
    text = payload.decode("utf-8", errors="replace")
    p = _Extractor()
    p.result.path = "stdlib"
    try:
        p.feed(text)
        p.close()
    except Exception:
        # malformed beyond the tolerant parser: keep whatever was emitted
        p._flush_block()
    return p.result


def parse_html(payload: bytes) -> ParseResult:
    """Parse one HTML payload (UTF-8, errors replaced) into ordered blocks.

    Dispatch: regex fast tokenizer for the verified well-formed subset
    (~3× per-doc speedup, htmlparse_fast.py), stdlib html.parser for
    everything else — equivalence property-tested in
    tests/test_fast_tokenizer.py, byte-identity pinned by the golden
    fixtures either way. ``result.path`` says which one ran.
    """
    from .htmlparse_fast import parse_html_fast
    result = parse_html_fast(payload)
    if result is not None:
        return result
    return parse_html_stdlib(payload)
