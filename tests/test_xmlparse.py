"""XML -> Hiccup parser rules (xml.cljc replication) and the
byte-identity of extracted text against the committed goldens for all
12 TEI corpus files."""

import pathlib

import pytest

from cuphic_spark.kernel import parse_xml, extract_text
from cuphic_spark.kernel.reader import parse as p
from cuphic_spark.kernel.values import Keyword
from cuphic_spark.kernel.xmlparse import is_blank, keywordize
from cuphic_spark.sources.tei import TEI_DIR
from tests.conftest import requires_tei_corpus

K = Keyword
GOLDEN_TEXT = pathlib.Path(__file__).resolve().parents[1] / "goldens" / "text"


def test_keywordize():
    # xml.cljc:26-32 — split on the first colon
    assert keywordize("p") == K("p")
    assert keywordize("xml:id") == K("xml/id")
    assert keywordize("xmlns:t") == K("xmlns/t")


def test_blank_follows_java_whitespace():
    assert is_blank(None)
    assert is_blank("")
    assert is_blank(" \t\n\r")
    assert is_blank("   ")  # Zl, Zp, Zs
    assert not is_blank(" ")  # NBSP is NOT Java whitespace
    assert not is_blank(" x ")


def test_basic_parse_shape():
    h = parse_xml(b'<root a="1"><child>text</child></root>')
    assert h == [K("root"), {K("a"): "1"}, [K("child"), {}, "text"]]


def test_blank_text_dropped_nonblank_untrimmed():
    h = parse_xml(b"<r>\n  <a> kept </a>\n</r>")
    # whitespace-only text between elements is dropped; " kept " is
    # verbatim (xml.cljc:121-125; cuphic_test.cljc:213-215)
    assert h == [K("r"), {}, [K("a"), {}, " kept "]]


def test_comments_dropped():
    h = parse_xml(b"<r><!-- gone -->x<!-- gone too --></r>")
    assert h == [K("r"), {}, "x"]


def test_adjacent_text_merged():
    # DOM .normalize() merges text around entity refs / CDATA
    h = parse_xml(b"<r>a&amp;b<![CDATA[c]]>d</r>")
    assert h == [K("r"), {}, "a&bcd"]


def test_namespaced_attrs():
    h = parse_xml(b'<r xmlns:t="urn:x" t:k="v" xml:id="i"/>')
    assert h[1] == {K("xmlns/t"): "urn:x", K("t/k"): "v", K("xml/id"): "i"}


def test_empty_element():
    assert parse_xml(b"<r/>") == [K("r"), {}]


def test_tag_with_namespace_prefix():
    h = parse_xml(b'<t:r xmlns:t="urn:x"/>')
    assert h[0] == K("t/r")


@requires_tei_corpus
@pytest.mark.parametrize(
    "stem", sorted(g.stem for g in GOLDEN_TEXT.glob("*.txt")))
def test_golden_text_byte_identity(stem):
    tree = parse_xml((TEI_DIR / (stem + ".xml")).read_bytes())
    golden = (GOLDEN_TEXT / (stem + ".txt")).read_text(encoding="utf-8")
    assert extract_text(tree) == golden


def test_extract_text_tree_rules():
    tree = p('[:a {} "x" [:b {} "y"] "z"]')
    assert extract_text(tree) == "xyz"
    # attrs-less nodes (hand-written hiccup) still walk children
    tree2 = p('[:a "x" [:b "y"]]')
    assert extract_text(tree2) == "xy"


@requires_tei_corpus
def test_streaming_extractor_matches_tree_extraction():
    """extract_text_streaming must be byte-identical to
    extract_text(parse(...)) — TEI corpus + edge shapes (comments
    splitting text runs, CDATA, blank-only runs, deep nesting)."""
    from cuphic_spark.kernel.xmlparse import (
        extract_text,
        extract_text_streaming,
        parse,
    )

    n = 0
    for f in sorted(TEI_DIR.glob("*.xml")):
        data = f.read_bytes()
        assert extract_text_streaming(data) == extract_text(parse(data)), f
        n += 1
    assert n >= 12

    cases = [
        b"<a>x<!--c-->y</a>",              # comment inside a text run
        b"<a>  \n </a>",                    # blank-only run dropped
        b"<a><![CDATA[ kept ]]></a>",       # CDATA verbatim
        b"<a>pre<b>in</b>post</a>",
        b"<a>\xc2\xa0</a>",                 # nbsp is NOT Java whitespace
        b"<a><b></b>tail</a>",
        ("<r>" + "<d>" * 2000 + "deep" + "</d>" * 2000 + "</r>").encode(),
    ]
    for data in cases:
        assert extract_text_streaming(data) == extract_text(parse(data)), data


def test_streaming_extractors_fuzz_random_trees():
    """Seeded random-XML sweep: the tree-free streaming extractors
    (text + hrefs) must agree with the tree path on arbitrary nesting,
    attr placement, blank runs, comments, and CDATA."""
    import random

    from cuphic_spark.frontier.crawl import _hrefs_streaming
    from cuphic_spark.kernel import reader as kreader
    from cuphic_spark.kernel.match import Matcher
    from cuphic_spark.kernel.scan import scan
    from cuphic_spark.kernel.xmlparse import (
        extract_text,
        extract_text_streaming,
        parse,
    )

    rng = random.Random(1307)
    tags = ["a", "b", "div", "A", "svg:a"]
    texts = ["x", "  ", "t&amp;t", " ", ""]

    def elem(depth):
        tag = rng.choice(tags)
        attrs = ""
        if rng.random() < 0.5:
            attrs = f' href="h{rng.randint(0, 9)}"'
        if rng.random() < 0.2:
            attrs += f' k="v{rng.randint(0, 3)}"'
        kids = []
        for _ in range(rng.randint(0, 3)):
            r = rng.random()
            if depth < 4 and r < 0.45:
                kids.append(elem(depth + 1))
            elif r < 0.75:
                kids.append(rng.choice(texts))
            elif r < 0.85:
                kids.append("<!--c-->")
            else:
                kids.append("<![CDATA[ cd ]]>")
        close = tag  # tags chosen contain no spaces
        return f"<{tag}{attrs}>" + "".join(kids) + f"</{close}>"

    matcher = Matcher(kreader.parse("[:a {:href href} ???]"))
    for i in range(200):
        data = ("<root>" + elem(0) + "</root>").encode()
        tree = parse(data)
        assert extract_text_streaming(data) == extract_text(tree), data
        want = []
        for _nid, _node, results in scan(tree, matcher):
            b = results[0]
            if b is not None:
                for sym, val in b.items():
                    if getattr(sym, "name", None) == "href":
                        want.append(val)
        assert _hrefs_streaming(data) == want, data


def test_is_blank_fast_path_matches_java_rule():
    """Round-8 pin: is_blank grew a C-speed fast path (str.strip()
    plus a Python-WS-minus-Java-WS exception list). It must agree
    with the per-char Java rule on every Unicode whitespace-ish
    char and combinations thereof."""
    import random

    from cuphic_spark.kernel.xmlparse import _is_java_whitespace, is_blank

    def oracle(s):
        if s is None or s == "":
            return True
        return all(_is_java_whitespace(c) for c in s)

    py_ws = [chr(cp) for cp in range(0x3001) if chr(cp).isspace()]
    py_ws += [" ", " ", " ", " ", "　"]
    cands = py_ws + list("ax.·") + ["\x85", "\xa0", " ",
                                         " "]
    for c in cands:
        for s in (c, c * 3, " " + c, c + " ", "x" + c, c + "x"):
            assert is_blank(s) == oracle(s), repr(s)
    rng = random.Random(7)
    for _ in range(5000):
        s = "".join(rng.choice(cands) for _ in range(rng.randint(0, 6)))
        assert is_blank(s) == oracle(s), repr(s)
