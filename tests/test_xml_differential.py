"""The expat fast paths (``parse``, ``extract_text_streaming``,
``extract_content_streaming``) against the DOM reference path
(``parse_minidom``, modelled on xml.cljc's JAXP DOM + normalize()).

Seeded random documents mix the shapes where the two can drift:
comments and processing instructions between text runs (they end a
DOM Text node), CDATA sections and entity references (merged into the
surrounding text), blank runs under Java's whitespace rules, dropped
boilerplate subtrees and namespaced attributes."""

import random
import re

from cuphic_spark.kernel.values import Keyword
from cuphic_spark.kernel.xmlparse import (
    extract_content,
    extract_content_streaming,
    extract_text,
    extract_text_streaming,
    parse,
    parse_minidom,
)

K = Keyword

# blank under Java rules (space, tab, newline, LINE SEPARATOR) and
# non-blank ones (NBSP, NEL) that Python's str.strip() would eat
_BLANKS = [" ", "  ", "\t", "\n  ", "\u2028"]
_NON_JAVA_WS = ["\xa0", "\x85"]
_WORDS = ["a", "b", "x y", "text", "&amp;", "&#32;", "&lt;p&gt;"]
_TAGS = ["p", "div", "hi", "t:seg", "script", "nav", "a"]


def _text(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return rng.choice(_BLANKS)
    if r < 0.5:
        return rng.choice(_NON_JAVA_WS)
    return rng.choice(_WORDS)


def _misc(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return f"<!--{rng.choice(['c', '', ' note '])}-->"
    if r < 0.7:
        return f"<?pi {rng.choice(['x', 'y=1'])}?>"
    return f"<![CDATA[{rng.choice(_BLANKS + ['c', '<b>'])}]]>"


def _element(rng: random.Random, depth: int) -> str:
    tag = rng.choice(_TAGS)
    attrs = ""
    if rng.random() < 0.3:
        attrs += f' xml:id="n{rng.randrange(100)}"'
    if rng.random() < 0.3:
        attrs += ' t:k="v"'
    parts = []
    for _ in range(rng.randrange(6)):
        r = rng.random()
        if r < 0.45:
            parts.append(_text(rng))
        elif r < 0.75:
            parts.append(_misc(rng))
        elif depth > 0:
            parts.append(_element(rng, depth - 1))
    return f"<{tag}{attrs}>{''.join(parts)}</{tag}>"


def _document(rng: random.Random) -> bytes:
    prolog = rng.choice(["", "<!--head-->", "<?xml-stylesheet x?>"])
    body = _element(rng, 3)
    root = f'<TEI xmlns="urn:tei" xmlns:t="urn:t">{body}</TEI>'
    return (prolog + root + rng.choice(["", "<!--tail-->"])).encode()


def _assert_paths_agree(xml: bytes) -> None:
    dom = parse_minidom(xml)
    assert parse(xml) == dom, xml
    assert extract_text_streaming(xml) == extract_text(dom), xml
    assert extract_content_streaming(xml) == extract_content(dom), xml


def test_expat_paths_equal_dom_reference_on_random_documents():
    rng = random.Random(20251017)
    docs = [_document(rng) for _ in range(1500)]
    # the generator must actually produce the shape under test: a
    # comment or PI directly between two text runs
    between = re.compile(rb"[^>]<(!--|\?pi)[^>]*>[^<]")
    assert sum(bool(between.search(d)) for d in docs) > 50
    for xml in docs:
        _assert_paths_agree(xml)


TEI_SNIPPET = b"""<?xml version="1.0" encoding="UTF-8"?>
<?xml-model href="tei_all.rng"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0" xmlns:xi="urn:xi">
  <text>
    <body>
      <div type="letter" xml:id="d1" xi:n="3">
        <p rend="indent">  <!-- editor: blank run -->Dear Sir,</p>
        <p>first<!--gap-->second <hi>emph</hi><?pb n="2"?>  </p>
        <p><![CDATA[ ]]>&amp;c.<!-- end --></p>
      </div>
    </body>
  </text>
</TEI>
"""


def test_tei_snippet_pins_text_rules():
    """Comments and PIs are dropped and split text; blank runs on
    either side of them are dropped; CDATA and entities merge into the
    neighbouring text; namespaced attributes keep their prefix."""
    tree = parse(TEI_SNIPPET)
    _assert_paths_agree(TEI_SNIPPET)
    div = tree[2][2][2]
    assert div[:2] == [K("div"), {K("type"): "letter", K("xml/id"): "d1",
                                  K("xi/n"): "3"}]
    assert div[2] == [K("p"), {K("rend"): "indent"}, "Dear Sir,"]
    assert div[3] == [K("p"), {}, "first", "second ",
                      [K("hi"), {}, "emph"]]
    assert div[4] == [K("p"), {}, " &c."]
    assert extract_text_streaming(TEI_SNIPPET) == \
        "Dear Sir,firstsecond emph &c."
