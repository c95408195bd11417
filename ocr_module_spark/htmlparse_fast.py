"""Fast tokenizer front-end for the HTML block parser.

``html.parser`` costs ~2/3 of per-document extraction time (profiled in
BENCH.md context: its goahead/parse_starttag machinery, not our handlers).
This module adds a regex-scanner tokenizer for the *well-formed subset* of
HTML and feeds the exact same ``_Extractor`` handler object as the stdlib
path — tokenization is the only thing that changes, every block/role/
section/payload rule stays in one implementation (htmlparse._Extractor).

Coverage: plain start/end tags with double-quoted attributes, entity
references in data, **plus the constructs every real Common-Crawl page
carries** — ``<!-- comments -->``, ``<!DOCTYPE ...>``, ``<?...>``
processing instructions, and ``<script>``/``<style>`` raw-text (CDATA)
elements. Each is consumed with the *exact* resume position stdlib
``html.parser`` uses (``--\\s*>`` comment close, first ``>`` for PI,
``</\\s*script\\s*>`` case-insensitive CDATA close), and each produces
only callbacks our extractor treats as no-ops (handle_comment/decl/pi,
ignored CDATA data) — so the observable callback stream is identical.

Safety model — **fallback, never divergence**: any construct whose stdlib
semantics we have not replicated bit-for-bit (marked sections ``<![``,
exotic declarations, unterminated comments, stray ``<`` in text,
single-quoted/unquoted attribute syntax) routes the WHOLE document to the
stdlib parser. ``tests/test_fast_tokenizer.py`` property-tests
byte-equality of the two paths over the full synthetic corpus and
adversarial cases; ``tests/test_fuzz_tokenizer.py`` fuzzes arbitrary
fragment soup; the golden-fixture byte-identity suite runs against the
dispatching entry point, so the contract is pinned end-to-end.
"""

from __future__ import annotations

import html as _html
import re
from typing import Optional

# One token: start tag or end tag. Attribute body may contain quoted
# strings (which may contain '>' and '<'); names per the subset check.
_TOKEN_RE = re.compile(
    r"""<(?P<end>/?)(?P<name>[a-zA-Z][-a-zA-Z0-9]*)"""
    r"""(?P<attrs>(?:"[^"]*"|'[^']*'|[^'">])*)>""",
    re.S,
)

# Conservative subset for the attribute body we parse ourselves:
# whitespace-separated names, values double-quoted / single-quoted / a
# simple bare token, optional trailing /. Everything stdlib's
# attrfind_tolerant additionally accepts (multi-'=' values, '/' inside
# bare values, names not preceded by whitespace, stray quotes) bails to
# the stdlib parser instead of being guessed at. The grammar is
# `(_ATTR_RE unit)* then _ATTRS_TAIL_RE`, verified by the single tiling
# pass in _parse_attrs.
_BARE_VALUE = r"[-a-zA-Z0-9_.:#%?+,@!~*()/]+"
# Self-closing is the grammar's standalone trailing '/', which can only
# follow whitespace, a quote, or the tag name — stdlib swallows a '/'
# straight after a BARE value into the value ('<p a=b/>' is a plain
# starttag with value 'b/'), and the greedy bare pattern reproduces
# exactly that: the selfclose group can never match after a bare char.
_ATTR_RE = re.compile(
    r"""\s+([a-zA-Z][-a-zA-Z0-9_:.]*)"""
    r"""(?:\s*=\s*("[^"]*"|'[^']*'|""" + _BARE_VALUE + r"""))?""")

# What may follow the last attribute: optional whitespace and the
# standalone selfclose '/' guarded by the lookbehind described above
# (may follow only whitespace, a quote, or the body start — never a
# bare-value character).
# Anchored with .match at the resume position, so the lookbehind still
# sees the character before it in the original string.
_ATTRS_TAIL_RE = re.compile(r"""\s*(?P<selfclose>(?<![^\s"'])/)?$""")


# Memo of raw attribute body → parse result. Real pages repeat attr
# bodies heavily (class=/rel=/charset= chrome: 99.8% repeat rate on the
# synthetic corpus, 41 distinct bodies in 20k); the value is a pure
# function of the key, so a process-wide cache keeps per-document
# determinism. Callers never mutate the shared attrs list (handlers only
# iterate it). Bounded two ways: cleared wholesale past _ATTRS_CACHE_MAX
# entries (adversarial all-unique-attrs input degrades to cache-miss
# speed, no growth) and bodies over _ATTRS_CACHE_MAX_LEN bytes are never
# cached (unique large values — base64 data: URIs, srcset blobs — must
# not pin multi-KB strings in a long-lived Spark python worker; long
# bodies essentially never repeat, so the hit rate is unaffected).
_ATTRS_CACHE: dict = {}
_ATTRS_CACHE_MAX = 8192
_ATTRS_CACHE_MAX_LEN = 256
_ATTRS_BAIL = object()          # cached "leaves the subset" verdict


def _parse_attrs(attrs_raw: str):
    """Parse and verify an attribute body into html.parser's attr list:
    names lowered, quotes stripped, non-empty values unescaped — the
    exact order of operations of HTMLParser.parse_starttag. Returns
    ``(attrs, selfclosing)``, or None when the body leaves the subset.

    Single pass: successive anchored ``_ATTR_RE`` matches must tile the
    string up to ``_ATTRS_TAIL_RE``. Equivalent to verifying with one
    ``fullmatch`` of ``(unit)*tail`` because each unit's greedy first
    match is final: no tail-driven backtracking can reinterpret a unit —
    the tail accepts only ``\\s*/?$``, and any shorter unit ending
    exposes a character the tail cannot take (property-tested in
    tests/test_fast_tokenizer.py)."""
    cacheable = len(attrs_raw) <= _ATTRS_CACHE_MAX_LEN
    if cacheable:
        cached = _ATTRS_CACHE.get(attrs_raw)
        if cached is not None:
            return None if cached is _ATTRS_BAIL else cached
    attrs = []
    pos = 0
    attr_match = _ATTR_RE.match
    m = attr_match(attrs_raw, 0)
    while m is not None:
        v = m.group(2)
        if v is not None:
            if v[0] in "\"'":
                v = v[1:-1]
            if v:
                v = _html.unescape(v)
        attrs.append((m.group(1).lower(), v))
        pos = m.end()
        m = attr_match(attrs_raw, pos)
    tail = _ATTRS_TAIL_RE.match(attrs_raw, pos)
    res = None if tail is None \
        else (attrs, tail.group("selfclose") is not None)
    if cacheable:
        if len(_ATTRS_CACHE) >= _ATTRS_CACHE_MAX:
            _ATTRS_CACHE.clear()
        _ATTRS_CACHE[attrs_raw] = _ATTRS_BAIL if res is None else res
    return res

# Constructs the plain-segment tokenizer cannot express; the outer scan
# consumes them with stdlib-equal semantics. Ordered alternation: the
# longer '<!--' must win over '<!' at the same position. script/style need
# a name boundary so '<scripty>' stays an ordinary tag.
_SPECIAL_RE = re.compile(r"<!--|<!|<\?|<(?:script|style)(?=[\s/>])", re.I)

# stdlib html.parser resume rules, replicated exactly:
_COMMENTCLOSE_RE = re.compile(r"--\s*>")           # _markupbase.parse_comment
_SECT_NAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")  # _declname_match
_MS_CLOSE_RE = re.compile(r"]\s*]\s*>")            # _markedsectionclose
_MS_CLOSE_MSIE_RE = re.compile(r"]\s*>")           # _msmarkedsectionclose
_CDATA_CLOSE = {                                   # HTMLParser.set_cdata_mode
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


_TAG_OPENER = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ!?/")


def _emit_data(seg: str, handle_data, unescape) -> bool:
    """Emit one inter-tag data stretch with stdlib chunking semantics.

    A literal '<' NOT followed by a tag-opening char ([a-zA-Z!?/]) is one
    data chunk of its own in html.parser's goahead (scanning resumes
    right after it), with the surrounding text unescaped per-chunk —
    replicated exactly here, including a trailing '<' (next char is
    either a real token's '<', a special's '<', or EOF, all of which
    stdlib renders as literal data). A '<' that DOES open like a tag but
    reached us as data means a construct _TOKEN_RE could not express
    (unterminated/malformed tag): bail to the stdlib parser."""
    if "<" not in seg:
        handle_data(unescape(seg) if "&" in seg else seg)
        return True
    chunks = seg.split("<")
    first = chunks[0]
    if first:
        handle_data(unescape(first) if "&" in first else first)
    for rest in chunks[1:]:
        if rest and rest[0] in _TAG_OPENER:
            return False
        handle_data("<")
        if rest:
            handle_data(unescape(rest) if "&" in rest else rest)
    return True


def _tokenize_segment(text: str, extractor) -> bool:
    """Drive ``extractor`` over a special-free stretch of markup.

    Returns False when the segment leaves the verified subset — the
    caller must then re-run the whole document via html.parser (a
    mid-document bail-out is safe: the caller discards this extractor
    entirely on False).
    """
    if not text:
        return True
    handle_data = extractor.handle_data
    handle_starttag = extractor.handle_starttag
    handle_endtag = extractor.handle_endtag
    unescape = _html.unescape
    parts = _TOKEN_RE.split(text)
    # re.split with 3 capturing groups yields
    # [data, end, name, attrs, data, ...]: after the leading data element
    # the rest is exact groups of 4, so zip-of-one-iterator strides the
    # list C-side — measured faster than manual index arithmetic, which
    # was ~10% of the whole parse in profiles.
    seg = parts[0]
    if seg and not _emit_data(seg, handle_data, unescape):
        return False
    it = iter(parts)
    next(it)
    for end, name, attrs_raw, seg in zip(it, it, it, it):
        if end:
            # end tags take no attributes in the subset
            if attrs_raw and attrs_raw.strip():
                return False
            handle_endtag(name.lower())
        elif attrs_raw:
            parsed = _parse_attrs(attrs_raw)
            if parsed is None:
                return False
            attrs, selfclosing = parsed
            name = name.lower()
            handle_starttag(name, attrs)
            if selfclosing:
                # html.parser handle_startendtag default: start then end
                handle_endtag(name)
        else:
            handle_starttag(name.lower(), [])
        if seg:
            # '<'-free data stretch inlined (the common case — one call
            # saved per token); _emit_data handles the literal-'<' split
            if "<" not in seg:
                handle_data(unescape(seg) if "&" in seg else seg)
            elif not _emit_data(seg, handle_data, unescape):
                return False
    return True


def tokenize_fast(text: str, extractor) -> bool:
    """Scan ``text`` and drive ``extractor``'s handler methods.

    Returns False (without guarantees about partial emission) when the
    document leaves the verified subset — the caller must then discard
    the extractor and re-parse the whole document via html.parser.

    Structure: ``_SPECIAL_RE`` finds the earliest construct the plain
    tokenizer cannot express; the stretch before it is handled by
    ``_tokenize_segment`` (data chunk boundaries therefore fall exactly
    where stdlib's goahead breaks them — entity unescaping is per-chunk
    in both paths, so fragments like ``&amp<!-- -->;`` cannot merge into
    a different entity than the reference path sees).
    """
    pos = 0
    search = _SPECIAL_RE.search
    while True:
        m = search(text, pos)
        if m is None:
            return _tokenize_segment(text[pos:], extractor)
        start = m.start()
        if not _tokenize_segment(text[pos:start], extractor):
            return False
        tok = m.group(0).lower()
        if tok == "<!--":
            # _markupbase.parse_comment: close at '--\s*>' searched from
            # i+4; handle_comment is a no-op for the extractor
            close = _COMMENTCLOSE_RE.search(text, start + 4)
            if close is None:
                return False
            pos = close.end()
        elif tok == "<!":
            # HTMLParser.parse_html_declaration dispatch (comment handled
            # above): marked section, then doctype, then bogus comment —
            # each produces only no-op callbacks (unknown_decl /
            # handle_decl / handle_comment), so consuming at the exact
            # stdlib resume position is the entire contract.
            if text.startswith("<![", start):
                # _markupbase.parse_marked_section: name via
                # _declname_match from i+3; cdata-class names close at
                # ']\s*]\s*>', MSIE conditionals at ']\s*>', both
                # searched from i+3; any other name raises in stdlib
                # (→ partial-result path) and an unterminated section is
                # incomplete — both bail here.
                m2 = _SECT_NAME_RE.match(text, start + 3)
                if m2 is None or m2.end() == len(text):
                    return False
                sect = m2.group().strip().lower()
                if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                    close = _MS_CLOSE_RE.search(text, start + 3)
                elif sect in ("if", "else", "endif"):
                    close = _MS_CLOSE_MSIE_RE.search(text, start + 3)
                else:
                    return False
                if close is None:
                    return False
                pos = close.end()
            elif text[start:start + 9].lower() == "<!doctype":
                # ends at the first '>' after i+9 (quotes/brackets NOT
                # respected — covers PUBLIC doctypes too)
                gt = text.find(">", start + 9)
                if gt < 0:
                    return False
                pos = gt + 1
            else:
                # parse_bogus_comment: first '>' from i+2
                gt = text.find(">", start + 2)
                if gt < 0:
                    return False
                pos = gt + 1
        elif tok == "<?":
            # HTMLParser.parse_pi: ends at the first '>' from i+2;
            # handle_pi is a no-op for the extractor
            gt = text.find(">", start + 2)
            if gt < 0:
                return False
            pos = gt + 1
        else:  # <script or <style
            t = _TOKEN_RE.match(text, start)
            if t is None or t.group("end"):
                return False
            name = t.group("name").lower()
            attrs_raw = t.group("attrs")
            selfclosing = False
            if attrs_raw:
                parsed = _parse_attrs(attrs_raw)
                if parsed is None:
                    return False
                attrs, selfclosing = parsed
            else:
                attrs = []
            extractor.handle_starttag(name, attrs)
            if selfclosing:
                # '<script/>': stdlib handle_startendtag — start+end, no
                # CDATA mode entered
                extractor.handle_endtag(name)
                pos = t.end()
            else:
                # CDATA mode: stdlib scans for '</\s*name\s*>' (case-
                # insensitive) and feeds everything before it as data the
                # extractor ignores (ignore-subtree); unclosed CDATA
                # swallows the rest of the document as ignored data
                close = _CDATA_CLOSE[name].search(text, t.end())
                if close is None:
                    return True
                extractor.handle_endtag(name)
                pos = close.end()


def parse_html_fast(payload: bytes) -> Optional[object]:
    """Fast-path parse; None if the document needs the stdlib parser."""
    from .htmlparse import _Extractor

    text = payload.decode("utf-8", errors="replace")
    p = _Extractor()
    try:
        if not tokenize_fast(text, p):
            return None
        p._flush_block()
    except Exception:
        return None
    p.result.path = "fast"
    return p.result
