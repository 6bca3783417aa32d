"""Golden scrape test: the full expectations of
/root/reference/test/dk/cst/cuphic_test.cljc:178-228, run against the
REAL TEI file the embedded test document was derived from, plus
scan/select semantics."""

import json
import pathlib
from collections import Counter

import pytest

from cuphic_spark.kernel import (
    parse_xml,
    scan,
    scrape,
    select_all,
    select_one,
)
from cuphic_spark.kernel.reader import parse as p
from cuphic_spark.kernel.values import Keyword, Symbol
from cuphic_spark.sources.tei import TEI_DIR
from tests.conftest import requires_tei_corpus

S = Symbol
K = Keyword

GOLDENS = pathlib.Path(__file__).resolve().parents[1] / "goldens"

PATTERNS = {
    "all-tags": p("[tag ???]"),
    "p": p("[:p {:xml/id ?id} ???]"),
    "rs": p("[:rs {:type type} ???]"),
    "persName": p("[:persName {:ref ref :type ?type} full-name]"),
    "ref": p("[_ {:ref ref} ???]"),
    "term": p("[:term {:type term/type} term/name]"),
    "glen": p("[:glen {} ???]"),
}


@pytest.fixture(scope="module")
def result():
    tree = parse_xml((TEI_DIR / "test-1307-anno-tei.xml").read_bytes())
    return scrape(tree, PATTERNS)


@requires_tei_corpus
def test_all_tags(result):
    all_tags = result["all-tags"]
    assert len(all_tags) == 123
    assert len({b[S("tag")] for b in all_tags}) == 54
    assert all(isinstance(b[S("tag")], K) for b in all_tags)
    assert all(len(b) == 1 for b in all_tags)


@requires_tei_corpus
def test_p(result):
    ps = result["p"]
    assert len(ps) == 22
    assert ps[0] == {}
    assert ps[-1] == {}
    assert all(isinstance(b.get(S("?id")), str) for b in ps[1:-1])


@requires_tei_corpus
def test_rs(result):
    groups = Counter(b[S("type")] for b in result["rs"])
    assert groups == {"org": 4, "publication": 4}


@requires_tei_corpus
def test_persname(result):
    pn = result["persName"]
    groups = Counter(b.get(S("?type")) for b in pn)
    assert groups[None] == 15
    assert groups["receiver"] == 1
    assert groups["sender"] == 1
    others = [b for b in pn if S("?type") not in b]
    receiver = [b for b in pn if b.get(S("?type")) == "receiver"]
    sender = [b for b in pn if b.get(S("?type")) == "sender"]
    assert all(len(b) == 2 for b in others)
    assert all(len(b) == 3 for b in receiver)
    assert all(len(b) == 3 for b in sender)
    # untrimmed strings — a consequence of the input XML file
    assert receiver[0][S("full-name")] == "MODTAGER "
    assert sender[0][S("full-name")] == "AFSENDER "


@requires_tei_corpus
def test_ref(result):
    refs = result["ref"]
    assert len(refs) == 33
    assert all(len(b) == 1 for b in refs)


@requires_tei_corpus
def test_term(result):
    term = result["term"]
    assert len(term) == 4
    assert {b[S("term/type")] for b in term} == {"danishTerm"}
    assert len({b[S("term/name")] for b in term}) == 3


@requires_tei_corpus
def test_bad_pattern_key_absent(result):
    assert "glen" not in result


@requires_tei_corpus
def test_scrape_matches_committed_golden(result):
    """The committed golden file freezes this exact behaviour for the
    Spark-parity checks."""
    from cuphic_spark.kernel.reader import dumps

    golden = json.loads((GOLDENS / "scrape" / "test-1307.json").read_text())
    ours = {
        k: [{str(sym): dumps(val) for sym, val in b.items()} for b in v]
        for k, v in result.items()
    }
    assert ours == golden


# --- scan / select over the docstring example (cuphic.cljc:428-443) ---

EXAMPLE = p('[:div {} [:p {:id "p"} [:span {:id "span"}]]]')


def test_scrape_docstring_example():
    out = scrape(EXAMPLE, {
        "x": p('[tag {:id "nada"}]'),
        "y": p("[:span {:id id}]"),
        "z": p("[tag {:id id} ???]"),
    })
    assert "x" not in out
    assert out["y"] == [{S("id"): "span"}]
    assert out["z"] == [{S("tag"): K("p"), S("id"): "p"},
                        {S("tag"): K("span"), S("id"): "span"}]


def test_scan_order_and_shape():
    rows = list(scan(EXAMPLE, p("[tag {:id id} ???]")))
    # preorder: div (no id -> no match), p, span
    assert [r[2][0][S("id")] for r in rows] == ["p", "span"]
    # node ids are preorder ranks and strictly increasing
    assert rows[0][0] < rows[1][0]


def test_select_all_and_one():
    nodes = select_all(EXAMPLE, p("[tag {:id id} ???]"))
    assert [n[0] for n in nodes] == [K("p"), K("span")]
    assert select_one(EXAMPLE, p("[tag {:id id} ???]"))[0] == K("p")
    assert select_one(EXAMPLE, p("[:nope {} ???]")) is None


def test_scan_multi_pattern_single_pass():
    rows = list(scan(EXAMPLE, p("[:div ???]"), p("[:span ???]")))
    assert len(rows) == 2  # one row per node with >=1 match
    div_row, span_row = rows
    assert div_row[2][0] is not None and div_row[2][1] is None
    assert span_row[2][0] is None and span_row[2][1] is not None
