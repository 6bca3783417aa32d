"""Spark-parity tests: the DataFrame pipeline must reproduce the
kernel's golden results (SURVEY §5.2 layer 3)."""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from cuphic_spark.compiler import compile_pattern, match_nodes
from cuphic_spark.operators.parse import (
    pages_extract_text,
    pages_to_nodes,
    scrape_pages,
)
from cuphic_spark.sources.tei import tei_pages
from tests.conftest import requires_tei_corpus

GOLDENS = pathlib.Path(__file__).resolve().parents[1] / "goldens"

PATTERNS = {
    "all-tags": "[tag ???]",
    "p": "[:p {:xml/id ?id} ???]",
    "rs": "[:rs {:type type} ???]",
    "persName": "[:persName {:ref ref :type ?type} full-name]",
    "ref": "[_ {:ref ref} ???]",
    "term": "[:term {:type term/type} term/name]",
    "glen": "[:glen {} ???]",
}


@pytest.fixture(scope="module")
def pages(spark):
    return tei_pages(spark, goldens_dir=str(GOLDENS.parent / "goldens")).cache()


def _canon(df):
    return df.select("url", "pattern_key", "node_id",
                     F.sort_array(F.map_entries("bindings")).alias("b"))


@requires_tei_corpus
def test_extracted_text_byte_identity(spark, pages):
    ext = pages_extract_text(pages).withColumnRenamed("text", "extracted")
    j = ext.join(pages.select("url", "text"), "url")
    bad = j.where(F.col("extracted") != F.col("text")).count()
    assert bad == 0
    assert j.count() == 12


def test_relational_and_kernel_paths_identical(spark, pages):
    compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
    assert all(c.strategy == "relational" for c in compiled)
    rel = _canon(match_nodes(pages_to_nodes(pages), compiled)).cache()
    ker = _canon(scrape_pages(pages, PATTERNS)).cache()
    assert rel.count() == ker.count()
    assert rel.exceptAll(ker).count() == 0
    assert ker.exceptAll(rel).count() == 0


def test_relational_and_kernel_paths_identical_on_synth_pages(spark):
    """The same parity on the gate's synthetic pages and patterns,
    which exist on every box (the TEI case above needs the corpus)."""
    import __spark_entry__ as e
    from cuphic_spark.sources.pagegen import DEFAULT_COPIES, synth_pages

    pages = synth_pages(spark, "/root/testdata/sf0.001", DEFAULT_COPIES)
    compiled = [compile_pattern(k, v) for k, v in e.GOLDEN_PATTERNS.items()]
    assert all(c.strategy == "relational" for c in compiled)
    rel = _canon(match_nodes(pages_to_nodes(pages), compiled)).cache()
    ker = _canon(scrape_pages(pages, e.GOLDEN_PATTERNS)).cache()
    assert rel.count() > 0
    assert rel.count() == ker.count()
    assert rel.exceptAll(ker).count() == 0
    assert ker.exceptAll(rel).count() == 0


@requires_tei_corpus
def test_golden_counts_via_spark(spark, pages):
    compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
    m = match_nodes(pages_to_nodes(pages), compiled)
    counts = dict(
        m.where(F.col("url") == "tei://test-1307-anno-tei.xml")
        .groupBy("pattern_key").count().collect())
    golden = json.loads(
        (GOLDENS / "scrape" / "test-1307.json").read_text())
    assert counts == {k: len(v) for k, v in golden.items()}
    assert "glen" not in counts


def test_one_pass_multi_pattern_single_parse(spark, pages):
    """N patterns must share ONE parse pass (the reference's juxt,
    cuphic.cljc:401-405) — no per-pattern re-execution. Patterns with
    a single_var child add the subtree assist, which references the
    nodes plan two more times (target derivation + pruned
    reconstruction) — materialize nodes for those (cost model in
    match_nodes docstring)."""
    no_single_var = {k: v for k, v in PATTERNS.items()
                     if k in ("all-tags", "p", "rs", "ref", "glen")}
    compiled = [compile_pattern(k, v) for k, v in no_single_var.items()]
    from cuphic_spark.plans import optimized_plan

    plan = optimized_plan(match_nodes(pages_to_nodes(pages), compiled))
    assert plan.count("MapInPandas") == 1

    all_compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
    plan_all = optimized_plan(match_nodes(pages_to_nodes(pages),
                                          all_compiled))
    # match scan + assist references (cogroup targets, semi-join
    # targets, pruned reconstruction) — each re-parses when nodes is
    # ephemeral; over a materialized nodes table they are pruned
    # parquet scans instead
    assert plan_all.count("MapInPandas") == 4


def test_single_var_element_child_binds_subtree(spark):
    """Advisor round-1 (medium): [:persName {:ref ref} full-name]
    over an ELEMENT child must bind the whole subtree on the
    relational path, exactly like the kernel (which follows
    cuphic's terminal-arbitrary-section semantics)."""
    html = (b"<doc>"
            b"<persName ref='#p1'><hi rend='b'>Jens</hi></persName>"
            b"<persName ref='#p2'>plain text</persName>"
            b"<persName ref='#p3'><a x='1'>J</a><a x='2'>K</a></persName>"
            b"</doc>")
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    pats = {"pn": "[:persName {:ref ref} full-name]"}
    compiled = [compile_pattern("pn", pats["pn"])]
    assert compiled[0].strategy == "relational"
    rel = _canon(match_nodes(pages_to_nodes(pages), compiled)).collect()
    ker = _canon(scrape_pages(pages, pats)).collect()
    assert sorted(map(str, rel)) == sorted(map(str, ker))
    by_ref = {dict(r.b)["ref"]: dict(r.b)["full-name"] for r in rel}
    # element child -> EDN subtree; text child -> verbatim; 2+ -> fail
    assert by_ref["#p1"] == '[:hi {:rend "b"} "Jens"]'
    assert by_ref["#p2"] == "plain text"
    assert "#p3" not in by_ref and len(by_ref) == 2


def test_head_filter_pushdown_on_materialized_nodes(spark, pages, tmp_path):
    """Over a MATERIALIZED nodes table the head filter reaches the
    parquet scan (PushedFilters) — the parse-once/query-many shape."""
    path = str(tmp_path / "nodes")
    pages_to_nodes(pages).write.parquet(path)
    nodes = spark.read.parquet(path)
    compiled = [compile_pattern("rs", PATTERNS["rs"])]
    from cuphic_spark.plans import executed_plan

    plan = executed_plan(match_nodes(nodes, compiled))
    assert "PushedFilters: [IsNotNull(tag), EqualTo(tag,rs)]" in plan \
        or "PushedFilters: [" in plan and "tag" in plan


def test_kernel_path_repetition_pattern(spark):
    """A pattern the relational path cannot express routes to the
    kernel and still returns correct bindings."""
    cp = compile_pattern("items", "[:list (... item)]")
    assert cp.strategy == "kernel"

    from cuphic_spark.sources.tei import PAGES_SCHEMA
    import datetime

    html = b'<list><i>a</i><i>b</i></list>'
    df = spark.createDataFrame(
        [("u1", datetime.datetime(2024, 1, 1), html, "", "en")], PAGES_SCHEMA)
    rows = scrape_pages(df, {"items": "[:list (... item)]"}).collect()
    assert len(rows) == 1
    assert rows[0].bindings["item"] == '[[:i {} "a"] [:i {} "b"]]'


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 3
    assert {r.pattern_key for r in rows} >= {"links", "term", "title"}
    assert set(e.queries()) >= set(e.oracle_sql())


def test_lenient_parse_ladder(spark):
    """Crawl-reality tag soup: strict pages stay byte-identical
    (mode 'strict'); repairable soup parses with fixups; garbage is
    DROPPED and counted, never silently shrunk."""
    from cuphic_spark.operators.parse import (
        pages_extract_text,
        parse_html_lenient,
    )

    tree, mode = parse_html_lenient(b"<p>clean</p>")
    assert mode == "strict" and tree is not None

    tree, mode = parse_html_lenient(b"<p>fish &chips &amp; more</p>")
    assert mode == "fixup"
    from cuphic_spark.kernel.xmlparse import extract_text
    assert extract_text(tree) == "fish &chips & more"

    tree, mode = parse_html_lenient(b"junk prefix<p>body</p>")
    assert mode == "fixup"
    assert extract_text(tree) == "body"

    tree, mode = parse_html_lenient(b"<p>a</p><p>b</p>")
    assert mode == "wrapped"
    assert extract_text(tree) == "ab"

    tree, mode = parse_html_lenient(b"<p>never closed")
    assert mode == "dropped" and tree is None

    pages = spark.createDataFrame(
        [("u1", b"<p>ok</p>"),
         ("u2", b"<p>bad &amp"),          # unrepairable (truncated)
         ("u3", b"pre<p>fix &it</p>"),    # repairable
         ("u4", b"<p>never closed")],     # unrepairable
        "url string, html binary")
    acc = spark.sparkContext.accumulator(0)
    out = pages_extract_text(pages, dropped_acc=acc).collect()
    texts = {r.url: r.text for r in out}
    assert texts == {"u1": "ok", "u3": "fix &it"}
    assert acc.value == 2


def test_boilerplate_content_extraction(spark):
    """Main-content extraction: boilerplate subtrees (script/style/
    nav/header/footer/aside/...) vanish WHOLE — including kept tags
    nested inside them — case-insensitively; the streaming extractor
    and the tree twin agree; the DataFrame face runs it through the
    lenient ladder (soup pages included)."""
    from cuphic_spark.kernel.xmlparse import (
        BOILERPLATE_TAGS,
        extract_content,
        extract_content_streaming,
        parse as parse_xml,
    )
    from cuphic_spark.operators.parse import pages_extract_content

    cases = [
        (b"<doc><header>SITE</header><p>body</p>"
         b"<footer>(c)</footer></doc>", "body"),
        (b"<doc><nav>a<footer>b</footer>c<p>hidden</p></nav>"
         b"<p>kept</p></doc>", "kept"),
        (b"<doc><NAV>menu</NAV><p>Body</p>"
         b"<ScRiPt>var x</ScRiPt></doc>", "Body"),
        (b"<doc><p>a<aside>x</aside>b</p></doc>", "ab"),
        (b"<doc><p>plain only</p></doc>", "plain only"),
    ]
    for xml, want in cases:
        assert extract_content_streaming(xml) == want, xml
        assert extract_content(parse_xml(xml)) == want, xml

    # custom drop set overrides the default
    assert extract_content_streaming(
        b"<doc><p>keep</p><blink>drop</blink></doc>",
        drop_tags=frozenset({"blink"})) == "keep"
    assert "script" in BOILERPLATE_TAGS

    # DataFrame face: soup page goes through the repair rung, the
    # unparseable one is counted not silently dropped
    pages = spark.createDataFrame(
        [("u1", b"<doc><nav>m</nav><p>alpha</p></doc>"),
         ("u2", b"junk <doc><header>h</header><p>beta &x</p></doc>"),
         ("u3", b"<p>never closed")],
        "url string, html binary")
    acc = spark.sparkContext.accumulator(0)
    got = {r.url: r.text
           for r in pages_extract_content(pages,
                                          dropped_acc=acc).collect()}
    assert got == {"u1": "alpha", "u2": "beta &x"}
    assert acc.value == 1


def test_charset_sniff_and_void_elements():
    """Non-UTF-8 crawl reality: a sniffed BOM / XML-decl / meta
    charset recodes the page instead of collapsing its 0x80-0xFF
    bytes to U+FFFD, and HTML void elements (<meta>, <br>, <img>...)
    are self-closed in the repair rung instead of dropping the page.
    The strict path is untouched (byte-identity corpus unaffected)."""
    from cuphic_spark.kernel.xmlparse import extract_text_streaming
    from cuphic_spark.operators.parse import (
        parse_html_lenient,
        sniff_charset,
    )

    def extract(b):
        return parse_html_lenient(b, parser=extract_text_streaming)

    # meta charset windows-1252: 0xE9 is invalid UTF-8, valid cp1252
    assert extract(
        b'<doc><meta charset="windows-1252"/><p>caf\xe9</p></doc>') == \
        ("café", "recoded")
    # WHATWG alias: a page LABELLED iso-8859-1 decodes as cp1252
    # (0x92 is a C1 control in 8859-1 but a curly quote in cp1252)
    assert extract(
        b'<doc><meta charset="iso-8859-1"/><p>it\x92s</p></doc>') == \
        ("it’s", "recoded")
    # XML declaration encoding reaches the sniffer too (expat handles
    # 8859-1 natively, so force the repair rung with a bare &)
    assert extract(
        b'<?xml version="1.0" encoding="ISO-8859-15"?>'
        b"<doc><p>a &b \xa4</p></doc>")[0] == "a &b €"
    # UTF-16 BOM soup: decoded via the BOM, repaired via the ladder
    u16 = b"\xff\xfe" + "junk <doc><p>café</p></doc>".encode(
        "utf-16-le")
    assert extract(u16) == ("café", "fixup")
    # unknown label: no crash, utf-8-replace fallback
    text, mode = extract(
        b'<doc><meta charset="no-such-enc"/><p>x\xe9y</p></doc>')
    assert mode == "fixup" and text == "x�y"
    # void elements self-close in the repair rung
    assert extract(
        b'<doc><p>one<br>two</p><img src="x.jpg"></doc>') == \
        ("onetwo", "fixup")
    assert extract(
        b'<doc><meta charset="windows-1252"><p>caf\xe9</p></doc>') == \
        ("café", "fixup")
    # already-self-closed void tags stay strict
    assert extract(b"<doc><p>a<br/>b</p></doc>") == ("ab", "strict")
    # strict path byte-identity untouched
    assert extract(b"<doc><p>plain</p></doc>") == ("plain", "strict")

    assert sniff_charset(b"\xef\xbb\xbf<doc/>") == "utf-8-sig"
    assert sniff_charset(b"<doc><p>nothing declared</p></doc>") is None


def test_subtree_assist_deep_nesting_no_recursion_limit(spark):
    """Advisor round-2 (low): subtree reconstruction must not recurse
    — a document nested past Python's recursion limit (~1000) would
    kill the whole Arrow stage. The rebuild is an explicit stack."""
    depth = 3000
    html = (b"<doc><persName ref='#d'>"
            + b"<b>" * depth + b"x" + b"</b>" * depth
            + b"</persName></doc>")
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    compiled = [compile_pattern("pn", "[:persName {:ref ref} body]")]
    rows = match_nodes(pages_to_nodes(pages), compiled).collect()
    assert len(rows) == 1
    body = dict(rows[0].bindings)["body"]
    assert body.startswith("[:b {} " * 2) and body.count("[:b") == depth


def test_subtree_assist_missing_target_fails_loudly(spark, monkeypatch):
    """Advisor round-2 (low): an elem-child match whose subtree lookup
    misses must raise executor-side, not silently emit bindings
    without the child key (silent divergence from the kernel path)."""
    import cuphic_spark.compiler as compiler_mod

    def empty_subtrees(nodes, targets):
        return spark.createDataFrame(
            [], "url string, target_id long, edn string")

    monkeypatch.setattr(compiler_mod, "subtree_edn", empty_subtrees)
    html = b"<doc><persName ref='#p1'><hi>J</hi></persName></doc>"
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    compiled = [compile_pattern("pn", "[:persName {:ref ref} body]")]
    with pytest.raises(Exception, match="subtree assist missed"):
        match_nodes(pages_to_nodes(pages), compiled).collect()


def test_literal_child_prefix_compiles_relationally(spark):
    """Round-2 verdict item 3: fixed literal child prefixes like
    [:li {} "•" body] become children[i] predicates on the relational
    path (previously any literal child paid the kernel tax). Parity
    with the kernel is pinned on a corpus exercising nil-bind, text
    merge (adjacent text fuses into ONE node — "•x" is not a prefix
    match), element subtree bind, over-length fail, and the exact/gap
    variants."""
    html = ("<ul>"
            "<li>•</li>"                       # ["•"]: nil bind
            "<li>•<b>x</b></li>"               # ["•", elem]: subtree
            "<li>•first</li>"                  # ["•first"]: merged text
            "<li>x</li>"                            # no match
            "<li>•<b>x</b><b>y</b></li>"       # var fails, gap matches
            "<li><b>•</b></li>"                # elem first: no prefix
            "</ul>").encode("utf-8")
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    pats = {
        "bullet_var": '[:li {} "•" body]',
        "bullet_exact": '[:li {} "•"]',
        "bullet_gap": '[:li {} "•" ???]',
    }
    compiled = [compile_pattern(k, v) for k, v in pats.items()]
    assert all(c.strategy == "relational" for c in compiled), \
        [(c.key, c.reason) for c in compiled]

    rel = _canon(match_nodes(pages_to_nodes(pages), compiled)).cache()
    ker = _canon(scrape_pages(pages, pats)).cache()
    assert sorted(map(str, rel.collect())) == sorted(map(str, ker.collect()))

    rows = match_nodes(pages_to_nodes(pages), compiled).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.pattern_key, []).append(dict(r.bindings))
    # var: nil-bind on bare bullet, subtree on elem child
    bodies = sorted(b.get("body") for b in by_key["bullet_var"])
    assert bodies == ['[:b {} "x"]', "nil"]
    assert len(by_key["bullet_exact"]) == 1      # only the bare bullet
    assert len(by_key["bullet_gap"]) == 3        # bare, elem, two-elems


def test_random_head_pattern_parity_sweep(spark):
    """Seeded sweep: 30 random head-shaped patterns (tag lit/var/
    wildcard x attr lit/var/?var/wildcard slots x literal child
    prefixes x exact/gap/var tails) over a random nested corpus must
    produce IDENTICAL rows through the relational compiler and the
    kernel scan — the compiler's classification surface, fuzzed."""
    import random

    rng = random.Random(42)
    tags = ["a", "b", "c", "li", "p"]
    keys = ["x", "y", "z"]
    vals = ["v0", "v1", "v2", "v3"]
    texts = ["•", "t1", "t2", "lead"]

    def rand_elem(depth):
        tag = rng.choice(tags)
        attrs = "".join(
            f' {k}="{rng.choice(vals)}"'
            for k in rng.sample(keys, rng.randint(0, 2)))
        kids = []
        for _ in range(rng.randint(0, 3)):
            if depth < 2 and rng.random() < 0.4:
                kids.append(rand_elem(depth + 1))
            else:
                kids.append(rng.choice(texts))
        return f"<{tag}{attrs}>" + "".join(kids) + f"</{tag}>"

    pages_rows = [(f"u{i}", ("<root>" + rand_elem(0) + rand_elem(0)
                             + "</root>").encode())
                  for i in range(60)]
    pages = spark.createDataFrame(pages_rows, "url string, html binary")

    def rand_pattern(i):
        tag = rng.choice(tags + ["_", "the-tag"])
        attrs = []
        for k in rng.sample(keys, rng.randint(0, 2)):
            slot = rng.choice([f'"{rng.choice(vals)}"', f"a{i}",
                               f"?a{i}", "_"])
            attrs.append(f":{k} {slot}")
        lits = [f'"{rng.choice(texts)}"'
                for _ in range(rng.randint(0, 2))]
        tail = rng.choice(["", "???", f"body{i}"])
        parts = ([f":{tag}" if tag not in ("_", "the-tag") else tag,
                  "{" + " ".join(attrs) + "}"] + lits
                 + ([tail] if tail else []))
        return "[" + " ".join(parts) + "]"

    pats = {f"p{i}": rand_pattern(i) for i in range(30)}
    compiled = [compile_pattern(k, v) for k, v in pats.items()]
    assert all(c.strategy == "relational" for c in compiled), \
        [(c.key, c.source, c.reason) for c in compiled
         if c.strategy != "relational"]

    rel = sorted(map(str, _canon(
        match_nodes(pages_to_nodes(pages), compiled)).collect()))
    ker = sorted(map(str, _canon(scrape_pages(pages, pats)).collect()))
    assert rel == ker
    assert len(rel) > 100  # the sweep actually matched things
