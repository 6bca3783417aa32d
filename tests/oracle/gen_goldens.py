"""One-shot golden generator.

Parses the 12 TEI files from the reference corpus
(``cuphic_spark.sources.tei.TEI_DIR``) with the kernel parser and
writes:

* goldens/text/{file}.txt       — byte-identical extracted text
* goldens/scrape/test-1307.json — the full expectations of
  /root/reference/test/dk/cst/cuphic_test.cljc:178-228

The kernel itself was validated non-circularly against the counts the
reference's test suite publishes (123/54 tags, 22 p, 4+4 rs, 15/1/1
persName with untrimmed values, 33 ref, 4 term / 3 names, absent key)
— see tests/test_scan_scrape.py. These files freeze that behaviour so
the Spark pipeline can be byte-checked without re-deriving it.

Run: python -m tests.oracle.gen_goldens
"""

from __future__ import annotations

import json
import pathlib

from cuphic_spark.kernel import parse_xml, extract_text, scrape
from cuphic_spark.kernel.reader import parse as p, dumps
from cuphic_spark.sources.tei import TEI_DIR

REPO = pathlib.Path(__file__).resolve().parents[2]

SCRAPE_PATTERNS = {
    "all-tags": "[tag ???]",
    "p": "[:p {:xml/id ?id} ???]",
    "rs": "[:rs {:type type} ???]",
    "persName": "[:persName {:ref ref :type ?type} full-name]",
    "ref": "[_ {:ref ref} ???]",
    "term": "[:term {:type term/type} term/name]",
    "glen": "[:glen {} ???]",
}


def main() -> None:
    text_dir = REPO / "goldens" / "text"
    scrape_dir = REPO / "goldens" / "scrape"
    text_dir.mkdir(parents=True, exist_ok=True)
    scrape_dir.mkdir(parents=True, exist_ok=True)

    for path in sorted(TEI_DIR.glob("*.xml")):
        tree = parse_xml(path.read_bytes())
        (text_dir / (path.stem + ".txt")).write_text(
            extract_text(tree), encoding="utf-8")

    tree = parse_xml((TEI_DIR / "test-1307-anno-tei.xml").read_bytes())
    result = scrape(tree, {k: p(v) for k, v in SCRAPE_PATTERNS.items()})
    out = {
        k: [{str(sym): dumps(val) for sym, val in b.items()} for b in v]
        for k, v in result.items()
    }
    (scrape_dir / "test-1307.json").write_text(
        json.dumps(out, indent=1, ensure_ascii=False), encoding="utf-8")
    print("goldens written:",
          len(list(text_dir.glob("*.txt"))), "text files,",
          sum(len(v) for v in out.values()), "scrape bindings")


if __name__ == "__main__":
    main()
