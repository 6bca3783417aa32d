"""Parse stage: pages -> nodes / matches / extracted text.

All Python executes in Arrow batches via ``mapInPandas`` (no per-row
Python UDFs — BASELINE.json input_hint hard constraint). Each
operator is a narrow map over the pages scan: linear, shuffle-free,
and partition-parallel, so throughput scales with executors.

The ``nodes`` table is the relational encoding of the Hiccup tree
(one row per element, preorder ``node_id``), designed so cuphic's
head check (tag + attrs) becomes a Catalyst filter with parquet
pushdown (SURVEY §1.3, §2.B):

    url        string   page key
    node_id    long     preorder rank of the element within the page
    parent_id  long     null for the root
    depth      int
    child_pos  int      position among the parent's children (0-based,
                        counting text+element children — document order)
    tag        string   Clojure-style qualified name ("p", "xml/id")
    attrs      map<string,string>
    children   array<struct<kind:string, text:string, child_id:long>>
                        ordered child sequence; kind in ('text','elem')

Binding values in the ``matches`` table are encoded as strings:
plain strings verbatim; keywords as ":name"; trees/vectors as the
EDN text form (reader.dumps); nil as SQL NULL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernel import reader
from ..kernel.values import Keyword, Symbol, is_vector
from ..kernel.xmlparse import parse as parse_xml, extract_text as kernel_extract_text

NODES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("node_id", T.LongType()),
    T.StructField("parent_id", T.LongType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("child_pos", T.IntegerType()),
    T.StructField("tag", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("children", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("child_id", T.LongType()),
    ]))),
])

TEXT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
])

MATCHES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("pattern_key", T.StringType()),
    T.StructField("node_id", T.LongType()),
    T.StructField("bindings", T.MapType(T.StringType(), T.StringType())),
])


def encode_value(v) -> str:
    """Binding value -> string column encoding (see module docstring).
    nil binds encode as the EDN string "nil" (Spark map semantics make
    key-present-with-null indistinguishable from absent after
    map_filter; both paths use "nil")."""
    if v is None:
        return "nil"
    if isinstance(v, str):
        return v
    return reader.dumps(v)


_BARE_AMP = None  # compiled lazily executor-side
_CHARSET_RE = None
_VOID_RE = None

# HTML void elements (WHATWG): written without a closing tag in real
# pages, which is a well-formedness error to an XML parser. The
# repair rung self-closes them; the strict rung never sees this.
_VOID_TAGS = ("area|base|br|col|embed|hr|img|input|link|meta|param"
              "|source|track|wbr")

# WHATWG encoding-standard alias: pages labelled ISO-8859-1 (or plain
# ascii) are decoded as windows-1252 — its strict superset that real
# browsers (and so real web text) actually use for the 0x80-0x9F range.
_WHATWG_1252 = {"iso-8859-1", "iso8859-1", "latin-1", "latin1",
                "us-ascii", "ascii", "windows-1252", "cp1252"}


def sniff_charset(raw: bytes) -> str | None:
    """BOM / XML-declaration / meta-charset sniff over the head bytes.

    Returns a codec name usable with ``bytes.decode`` or None when
    nothing is declared (caller falls back to UTF-8). Order: BOMs
    first (they are authoritative), then ``<?xml ... encoding=``,
    then HTML ``<meta charset=`` / ``http-equiv`` content within the
    first KiB (the WHATWG prescan window). Unknown labels return
    None rather than raising."""
    global _CHARSET_RE
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # the codec consumes the BOM it just matched
    if _CHARSET_RE is None:
        import re as _re
        _CHARSET_RE = _re.compile(
            br"""(?:encoding|charset)\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""",
            _re.IGNORECASE)
    m = _CHARSET_RE.search(raw[:1024])
    if not m:
        return None
    name = m.group(1).decode("ascii", "replace").strip().lower()
    if name in _WHATWG_1252:
        return "windows-1252"
    import codecs
    try:
        codecs.lookup(name)
    except LookupError:
        return None
    return name


def parse_html_lenient(data, parser=parse_xml) -> tuple[list | None, str]:
    """Parse with a LENIENT repair ladder — crawl reality is tag soup.

    Returns (tree, mode): mode is 'strict' when the page parses as-is
    (byte-identity semantics fully preserved — the reference corpus
    always takes this path), 'recoded' when a sniffed non-UTF-8
    charset (BOM / XML decl / meta charset) decodes the page into a
    clean parse, 'fixup' after conservative repairs (bare ``&``
    escaped, junk before the first ``<`` stripped), 'wrapped'
    when multiple roots needed a synthetic ``<root>`` wrapper, or
    'dropped' with tree None when nothing salvages the page. Callers
    surface drops through a ``pages_dropped`` counter rather than
    silently shrinking the output. The fixup/wrapped rungs reuse the
    sniffed decoding too, so a windows-1252 tag-soup page keeps its
    0x80-0xFF characters instead of collapsing to U+FFFD.

    ``parser`` swaps the per-rung parse function (must raise on
    malformed input, like ``parse_xml``): the extraction operator
    passes ``extract_text_streaming`` so every rung of the SAME
    ladder runs tree-free. The synthetic <root> wrapper is
    text-invariant, so the rungs stay equivalent for extraction."""
    global _BARE_AMP, _VOID_RE
    raw = bytes(data) if isinstance(data, (bytes, bytearray, memoryview)) \
        else data
    try:
        return parser(raw), "strict"
    except Exception:
        pass
    import re as _re

    if _BARE_AMP is None:
        _BARE_AMP = _re.compile(r"&(?![a-zA-Z][a-zA-Z0-9]*;|#[0-9]+;"
                                r"|#x[0-9a-fA-F]+;)")
        _VOID_RE = _re.compile(
            rf"<({_VOID_TAGS})(\s[^<>]*?)?(?<!/)>", _re.IGNORECASE)
    txt = None
    if isinstance(raw, bytes):
        enc = sniff_charset(raw)
        if enc is not None:
            try:
                txt = raw.decode(enc, errors="replace")
            except LookupError:
                txt = None
            if txt is not None and txt.startswith("<?xml"):
                # the bytes are UTF-8 from here on — a stale
                # encoding= in the XML declaration would make expat
                # re-misinterpret them
                txt = _re.sub(
                    r"^(<\?xml[^?>]*?)\s+encoding\s*=\s*"
                    r"(\"[^\"]*\"|'[^']*')",
                    r"\1", txt, count=1)
            if txt is not None and enc not in ("utf-8", "utf-8-sig"):
                # the recode alone may make the page well-formed
                # (expat defaults to UTF-8 and chokes on the raw bytes)
                try:
                    return parser(txt.encode("utf-8")), "recoded"
                except Exception:
                    pass
        if txt is None:
            txt = raw.decode("utf-8", errors="replace")
    else:
        txt = raw
    fixed = _VOID_RE.sub(r"<\1\2/>", _BARE_AMP.sub("&amp;", txt))
    lt = fixed.find("<")
    if lt > 0:
        fixed = fixed[lt:]
    try:
        return parser(fixed.encode("utf-8")), "fixup"
    except Exception:
        pass
    try:
        wrapped = "<root>" + fixed + "</root>"
        return parser(wrapped.encode("utf-8")), "wrapped"
    except Exception:
        return None, "dropped"


def _html_to_tree(html, dropped_acc=None) -> list | None:
    tree, _mode = parse_html_lenient(html)
    if tree is None and dropped_acc is not None:
        dropped_acc.add(1)
    return tree


def _flatten(url: str, tree) -> Iterator[tuple]:
    """Preorder flatten to nodes rows.

    Explicit DFS stack, NOT recursion (web documents nest past
    Python's recursion limit; this runs per page in the parse hot
    loop). Each stack entry carries a patch slot — the parent's
    children entry whose ``child_id`` becomes known the moment the
    child is visited (preorder ids are assigned at visit time)."""
    next_id = 0
    out = []
    # (node, parent_id, depth, child_pos, patch) — patch is the
    # parent's children-dict to fill with this node's id, or None
    stack = [(tree, None, 0, 0, None)]
    while stack:
        node, parent_id, depth, child_pos, patch = stack.pop()
        my_id = next_id
        next_id += 1
        if patch is not None:
            patch["child_id"] = my_id
        attrs = node[1] if len(node) > 1 and isinstance(node[1], dict) else {}
        content = node[2:] if len(node) > 1 and isinstance(node[1], dict) else node[1:]
        children = []
        elem_children = []
        for pos, child in enumerate(content):
            if isinstance(child, str):
                children.append({"kind": "text", "text": child, "child_id": None})
            elif is_vector(child):
                entry = {"kind": "elem", "text": None, "child_id": -1}
                elem_children.append((child, pos, entry))
                children.append(entry)
        row = (url, my_id, parent_id, depth, child_pos,
               node[0].name if isinstance(node[0], Keyword) else str(node[0]),
               {k.name if isinstance(k, Keyword) else str(k): encode_value(v)
                for k, v in attrs.items()},
               children)
        out.append(row)
        # reversed push -> first element child pops first -> its whole
        # subtree is numbered before the next sibling (true preorder)
        for child, pos, entry in reversed(elem_children):
            stack.append((child, my_id, depth + 1, pos, entry))
    return iter(out)


def pages_to_nodes(pages: DataFrame, dropped_acc=None) -> DataFrame:
    """pages -> nodes table (one narrow mapInPandas pass).

    ``dropped_acc``: optional SparkContext accumulator incremented per
    page the lenient parse ladder could not salvage (drops are
    COUNTED, never silent; task retries can overcount — treat as a
    metric, membership truth stays with the row data)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                tree = _html_to_tree(html, dropped_acc)
                if tree is None:
                    continue
                rows.extend(_flatten(url, tree))
            yield pd.DataFrame(rows, columns=[f.name for f in NODES_SCHEMA.fields])

    return pages.select("url", "html").mapInPandas(gen, NODES_SCHEMA)


def _text_map(pages: DataFrame, parser, dropped_acc) -> DataFrame:
    """pages -> (url, text) through ``parser`` in the lenient ladder:
    the one text-extraction map behind pages_extract_text and
    pages_extract_content."""
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            urls, texts = [], []
            for url, html in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                text, _mode = parse_html_lenient(html, parser=parser)
                if text is None:
                    if dropped_acc is not None:
                        dropped_acc.add(1)
                    continue
                urls.append(url)
                texts.append(text)
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, type=pa.string()),
                 pa.array(texts, type=pa.string())],
                names=["url", "text"])

    # mapInArrow (round 8): the pandas shim added a block-manager
    # build + object-array conversion on both sides of the boundary
    # for what is string-in/string-out work — Arrow batches go
    # straight to/from python lists.
    return pages.select("url", "html").mapInArrow(gen, TEXT_SCHEMA)


def pages_extract_text(pages: DataFrame, dropped_acc=None) -> DataFrame:
    """pages -> (url, text): the byte-identity extraction operator.

    Runs the STREAMING extractor through the lenient ladder — no
    Hiccup tree is materialized per page (extract_text_streaming is
    differentially pinned against parse+extract_text), which cuts the
    extraction leg's per-page allocation ~2-3x and with it the
    memory-bandwidth pressure that capped 8->32 scaling."""
    from ..kernel.xmlparse import extract_text_streaming

    return _text_map(pages, extract_text_streaming, dropped_acc)


def pages_extract_content(pages: DataFrame, drop_tags=None,
                          dropped_acc=None) -> DataFrame:
    """pages -> (url, text) with BOILERPLATE subtrees removed —
    main-content extraction for an LLM training corpus: script,
    style, nav, header, footer, aside, form, ... (kernel
    BOILERPLATE_TAGS; pass ``drop_tags`` to override) vanish whole,
    everything else keeps the byte-identity text semantics. Same
    streaming fast path, lenient ladder and map as
    pages_extract_text."""
    import functools

    from ..kernel.xmlparse import (
        BOILERPLATE_TAGS,
        extract_content_streaming,
    )

    drop = frozenset(t.lower() for t in drop_tags) if drop_tags \
        else BOILERPLATE_TAGS
    return _text_map(pages, functools.partial(extract_content_streaming,
                                              drop_tags=drop),
                     dropped_acc)


def scrape_pages(pages: DataFrame, key_to_pattern: dict[str, str],
                 dropped_acc=None) -> DataFrame:
    """General scrape: parse each page once, match ALL patterns in a
    single traversal (the reference's one-pass multi-pattern juxt,
    cuphic.cljc:401-405), emit long-format matches rows.

    ``key_to_pattern`` maps key -> pattern SOURCE TEXT (kept as
    strings so the closure ships cheaply to executors; compiled once
    per partition batch).
    """
    pattern_src = dict(key_to_pattern)

    def gen(batches):
        import pyarrow as pa

        from ..kernel.match import Matcher
        from ..kernel.scan import scan as kernel_scan

        # compile ONCE per partition; scan reuses Matcher instances
        # (building them per page would re-derive sections each time)
        keys = list(pattern_src)
        plist = [Matcher(reader.parse(pattern_src[k])) for k in keys]
        bindings_type = pa.map_(pa.string(), pa.string())
        for batch in batches:
            urls, pkeys, nids, binds = [], [], [], []
            for url, html in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                tree = _html_to_tree(html, dropped_acc)
                if tree is None:
                    continue
                for node_id, _node, results in kernel_scan(tree, *plist):
                    for k, b in zip(keys, results):
                        if b is not None:
                            urls.append(url)
                            pkeys.append(k)
                            nids.append(node_id)
                            binds.append(
                                [(sym.name if isinstance(sym, Symbol)
                                  else str(sym), encode_value(val))
                                 for sym, val in b.items()])
            # mapInArrow (round 8): emitting map<string,string> through
            # a pandas object column paid a per-row python->pandas->
            # arrow conversion; the Arrow map array is built directly
            # from (key, value) tuple lists.
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, type=pa.string()),
                 pa.array(pkeys, type=pa.string()),
                 pa.array(nids, type=pa.int64()),
                 pa.array(binds, type=bindings_type)],
                names=["url", "pattern_key", "node_id", "bindings"])

    return pages.select("url", "html").mapInArrow(gen, MATCHES_SCHEMA)
