"""XML/HTML bytes -> Hiccup tree, replicating the reference parser.

Reimplements /root/reference/src/dk/cst/cuphic/xml.cljc with
``xml.dom.minidom`` standing in for the JAXP DOM:

* qualified names kept verbatim and keywordized by splitting on the
  first ``:`` (``xml:id`` -> ``:xml/id``; ``xmlns:t`` -> ``:xmlns/t``)
  — keywordize, xml.cljc:26-32; the parser is NOT namespace-aware
  (JAXP default), so xmlns declarations appear as ordinary attrs;
* Document -> ``.normalize()`` (merge adjacent text) then the root
  element — xml.cljc:107-110;
* Element -> ``[tag attrs child...]`` with nil children removed —
  xml.cljc:115-119;
* Text (incl. CDATA) -> dropped iff blank per Clojure ``str/blank?``
  (Java ``Character/isWhitespace``), else kept VERBATIM (untrimmed,
  whole text) — xml.cljc:121-125; cuphic_test.cljc:213-215;
* Comments -> dropped — xml.cljc:127-128;
* processing instructions / doctypes -> dropped (the reference would
  pass the raw DOM object through, xml.cljc:130 — never exercised by
  its corpus; we drop instead of leaking parser objects);
* a dropped comment or PI still ENDS a text node: ``normalize()``
  merges only adjacent Text nodes, so ``a<!--c-->b`` keeps ``"a"``
  and ``"b"`` apart, each kept or dropped on its own.

Also provides ``extract_text``: the in-order concatenation of kept
text nodes — the byte-identity target column of the pipeline.
"""

from __future__ import annotations

import unicodedata
from xml.dom import minidom

from .values import Keyword, is_vector

# Java Character.isWhitespace: Unicode space separators (Zs/Zl/Zp)
# EXCEPT the non-breaking ones, plus these control chars.
_JAVA_WS_CTRL = set("\t\n\x0b\f\r\x1c\x1d\x1e\x1f")
_NON_BREAKING = {" ", " ", " "}


def _is_java_whitespace(ch: str) -> bool:
    if ch in _JAVA_WS_CTRL:
        return True
    if ch in _NON_BREAKING:
        return False
    return unicodedata.category(ch) in ("Zs", "Zl", "Zp")


# Python str.strip()'s whitespace set is a strict SUPERSET of Java's
# (it additionally strips NBSP-family Zs chars and \x85). These are
# the Python-whitespace chars Java does NOT count — if a Python-blank
# string contains none of them, it is Java-blank too.
_PY_WS_NOT_JAVA = "\x85\xa0   "


def is_blank(s: str | None) -> bool:
    """Clojure str/blank?: nil, empty, or whitespace-only (Java rules).

    Fast path (round 8 — this runs once per merged text node in the
    parse/extract hot loops): ``s.strip()`` non-empty proves a
    non-whitespace char exists (Java-WS ⊂ Python-WS), and a
    Python-blank string is Java-blank unless it contains one of the
    few Python-only whitespace chars — both checks are C loops; the
    per-char Python loop survives only for the rare ambiguous case.
    Differentially pinned against the char-by-char rule by tests."""
    if s is None or s == "":
        return True
    if s.strip():
        return False
    for ch in _PY_WS_NOT_JAVA:
        if ch in s:
            return all(_is_java_whitespace(c) for c in s)
    return True


_KW_CACHE: dict[str, Keyword] = {}


def keywordize(s: str) -> Keyword:
    """'xml:id' -> :xml/id (split on the FIRST colon) — xml.cljc:26-32.

    Interned (round 8): tag/attr names repeat constantly within a
    page batch; returning the same Keyword object makes attrs-dict
    hashing hit the cached hash and lets dict probes short-circuit on
    identity. Bounded so a pathological corpus of unique attr names
    cannot grow the cache without limit."""
    kw = _KW_CACHE.get(s)
    if kw is not None:
        return kw
    ns, sep, local = s.partition(":")
    kw = Keyword(f"{ns}/{local}") if sep else Keyword(ns)
    if len(_KW_CACHE) < 65536:
        _KW_CACHE[s] = kw
    return kw


_TEXT_TYPES = (minidom.Node.TEXT_NODE, minidom.Node.CDATA_SECTION_NODE)


def _node_to_hiccup(node):
    t = node.nodeType
    if t != minidom.Node.ELEMENT_NODE:
        return None  # comments, PIs, doctypes dropped
    attrs = {}
    if node.attributes is not None:
        for i in range(node.attributes.length):
            a = node.attributes.item(i)
            attrs[keywordize(a.name)] = a.value
    out = [keywordize(node.nodeName), attrs]
    # Merge runs of adjacent Text/CDATA children into one string (the
    # DOM .normalize() + getWholeText contract, xml.cljc:109,97-100 —
    # expat chunking never splits a logical text node), then drop
    # blank-only merged text (xml.cljc:123-125).
    buf: list[str] = []
    for child in node.childNodes:
        if child.nodeType in _TEXT_TYPES:
            buf.append(child.data)
            continue
        if buf:
            s = "".join(buf)
            buf.clear()
            if not is_blank(s):
                out.append(s)
        h = _node_to_hiccup(child)
        if h is not None:
            out.append(h)
    if buf:
        s = "".join(buf)
        if not is_blank(s):
            out.append(s)
    return out


class _ExpatBuilder:
    """Streaming expat -> Hiccup builder. Same keep/drop contract as
    the DOM path (comments/PIs dropped but splitting text, blank-only
    merged text dropped, text verbatim, qualified names preserved) at
    a fraction of minidom's allocation cost — the parse stage is the
    pipeline's hot loop, and minidom roughly triples its memory
    traffic."""

    __slots__ = ("root", "stack", "buf")

    def __init__(self):
        self.root = None
        self.stack = []
        self.buf = []

    def _flush_text(self):
        if self.buf:
            s = "".join(self.buf)
            self.buf.clear()
            if self.stack and not is_blank(s):
                self.stack[-1].append(s)

    def start(self, name, attrs):
        self._flush_text()
        node = [keywordize(name),
                {keywordize(k): v for k, v in attrs.items()}]
        if self.stack:
            self.stack[-1].append(node)
        else:
            self.root = node
        self.stack.append(node)

    def end(self, name):
        self._flush_text()
        self.stack.pop()

    def chars(self, data):
        self.buf.append(data)

    def boundary(self, *_):
        self._flush_text()


def _run_expat(xml, handler) -> None:
    """Feed ``xml`` (bytes, str or a readable) through expat into
    ``handler``'s start/end/chars/boundary callbacks.

    Namespace processing is OFF (qualified names verbatim, exactly the
    non-namespace-aware JAXP default the reference uses);
    buffer_text merges adjacent character data and CDATA (the
    .normalize contract, xml.cljc:109); comments and PIs reach only
    ``boundary``, which ends the current text run."""
    from xml.parsers import expat

    if isinstance(xml, str):
        xml = xml.encode("utf-8")
    elif not isinstance(xml, (bytes, bytearray, memoryview)):
        xml = xml.read()
        if isinstance(xml, str):
            xml = xml.encode("utf-8")
    p = expat.ParserCreate()  # no namespace separator: names verbatim
    p.buffer_text = True
    p.StartElementHandler = handler.start
    p.EndElementHandler = handler.end
    p.CharacterDataHandler = handler.chars
    p.CommentHandler = handler.boundary
    p.ProcessingInstructionHandler = handler.boundary
    p.Parse(bytes(xml), True)


def parse(xml) -> list:
    """Parse XML bytes/string into Hiccup — xml.cljc:132-135."""
    builder = _ExpatBuilder()
    _run_expat(xml, builder)
    return builder.root


class _TextExtractor:
    """Streaming expat handler that accumulates kept text WITHOUT
    building the Hiccup tree — the extraction fast path. Merge/drop
    contract identical to _ExpatBuilder: character data buffered and
    flushed at element, comment and PI boundaries (the .normalize()
    merge), blank-only merged runs dropped, kept text verbatim.
    Differentially pinned against the DOM reference by tests."""

    __slots__ = ("parts", "buf")

    def __init__(self):
        self.parts: list[str] = []
        self.buf: list[str] = []

    def _flush(self):
        if self.buf:
            s = "".join(self.buf)
            self.buf.clear()
            if not is_blank(s):
                self.parts.append(s)

    def start(self, name, attrs):
        self._flush()

    def end(self, name):
        self._flush()

    def chars(self, data):
        self.buf.append(data)

    def boundary(self, *_):
        self._flush()


def extract_text_streaming(xml) -> str:
    """extract_text(parse(xml)) without materializing the tree —
    ~2-3x less allocation per page, the hot path of the byte-identity
    extraction operator. Raises on malformed input exactly like
    ``parse`` (same expat), so it slots into the lenient ladder."""
    ex = _TextExtractor()
    _run_expat(xml, ex)
    ex._flush()  # trailing text outside the root is structurally
    # impossible in well-formed XML, but mirror the builder exactly
    return "".join(ex.parts)


#: WHATWG-ish boilerplate set for main-content extraction: chrome,
#: navigation and non-content containers whose text poisons an LLM
#: training corpus (the trafilatura/jusText-style default).
BOILERPLATE_TAGS = frozenset({
    "script", "style", "nav", "header", "footer", "aside", "form",
    "noscript", "template", "iframe", "button", "select",
})


class _ContentExtractor(_TextExtractor):
    """_TextExtractor that SKIPS entire subtrees rooted at dropped
    tags (case-insensitive): a depth counter opens at the dropped
    element and swallows text and nested elements — including nested
    dropped tags — until its end tag closes."""

    __slots__ = ("drop", "skip")

    def __init__(self, drop_tags):
        super().__init__()
        self.drop = drop_tags
        self.skip = 0

    def start(self, name, attrs):
        if self.skip:
            self.skip += 1
            return
        self._flush()
        if name.lower() in self.drop:
            self.skip = 1

    def end(self, name):
        if self.skip:
            self.skip -= 1
            return
        self._flush()

    def chars(self, data):
        if not self.skip:
            self.buf.append(data)


def extract_content_streaming(xml, drop_tags=BOILERPLATE_TAGS) -> str:
    """``extract_text_streaming`` minus the subtrees rooted at
    ``drop_tags`` — the boilerplate-strip fast path (raises on
    malformed input like ``parse``, so it slots into the lenient
    ladder via ``functools.partial``)."""
    ex = _ContentExtractor(drop_tags)
    _run_expat(xml, ex)
    ex._flush()
    return "".join(ex.parts)


def extract_content(hiccup, drop_tags=BOILERPLATE_TAGS) -> str:
    """Tree twin of ``extract_content_streaming`` (differentially
    pinned): in-order kept text, skipping dropped-tag subtrees."""
    parts: list[str] = []
    stack = [hiccup]
    while stack:
        n = stack.pop()
        if isinstance(n, str):
            parts.append(n)
        elif is_vector(n):
            tag = n[0] if n else None
            name = getattr(tag, "name", None)
            if name is not None and name.lower() in drop_tags:
                continue
            content = n[2:] if len(n) > 1 and isinstance(n[1], dict) \
                else n[1:]
            stack.extend(reversed(content))
    return "".join(parts)


def parse_minidom(xml) -> list:
    """DOM reference path (kept for differential testing)."""
    if isinstance(xml, bytes):
        dom = minidom.parseString(xml)
    elif isinstance(xml, str):
        dom = minidom.parseString(xml.encode("utf-8"))
    else:
        dom = minidom.parse(xml)
    try:
        return _node_to_hiccup(dom.documentElement)
    finally:
        dom.unlink()


def extract_text(hiccup) -> str:
    """In-order concatenation of the text nodes kept by the parse
    rules above. Byte-identical per url is the pipeline invariant
    (BASELINE.json input_hint)."""
    parts: list[str] = []
    _collect_text(hiccup, parts)
    return "".join(parts)


def _collect_text(node, parts: list) -> None:
    # explicit stack: extraction must survive arbitrarily deep pages
    # (the crawl feeds real web nesting through this per page)
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, str):
            parts.append(n)
        elif is_vector(n):
            content = n[2:] if len(n) > 1 and isinstance(n[1], dict) \
                else n[1:]
            stack.extend(reversed(content))
