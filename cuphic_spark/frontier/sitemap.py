"""Sitemap ingestion THROUGH the cuphic pattern engine.

Sitemaps (sitemaps.org protocol; discovered via robots.txt
``Sitemap:`` lines — see ``frontier.robots``) are XML, which is the
reference engine's home turf: instead of a bespoke extractor, the
entries are pulled with the same declarative Hiccup patterns the
scrape stage runs on pages (cuphic.cljc:420-457 `scrape`):

    [:url ??? [:loc loc] ???]            urlset entries
    [:url ??? [:lastmod lastmod] ???]    optional fields bind on the
    [:url ??? [:priority priority] ???]  SAME node -> grouped by the
    [:sitemap ??? [:loc loc] ???]        scan's node_id, no joins
                                         (sitemapindex recursion)

One kernel scan pass per body evaluates all four patterns; bindings
that hit the same ``<url>`` element share its preorder node_id, so
loc/lastmod/priority group with zero post-hoc tree surgery.

``parse_sitemaps`` is the DataFrame face: (host, xml) ->
(host, kind, loc, lastmod, priority) rows via ``mapInPandas`` —
Arrow-batched like page parsing; sitemap fetches are per-host-rare
so the Python lane is the right budget. Unparseable bodies yield
zero rows and count into ``bad`` (lenient, like the crawl's page
ladder); ``kind='sitemap'`` rows are sitemapindex children, i.e.
MORE sitemap urls to fetch — the caller loops them through the next
wave exactly like frontier links.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (module-level: Arrow typehints)

from pyspark.sql import DataFrame

from ..kernel import parse_pattern, parse_xml, scan
from ..kernel.match import Matcher

__all__ = ["extract_sitemap_entries", "parse_sitemaps", "SITEMAP_SCHEMA"]

_PATTERNS: list[tuple[str, str]] | None = None


def _matchers():
    """Compile the four patterns once per process (executor-cached,
    same budget as the page-scrape Matchers)."""
    global _PATTERNS
    if _PATTERNS is None:
        _PATTERNS = [
            ("loc", Matcher(parse_pattern("[:url ??? [:loc loc] ???]"))),
            ("lastmod",
             Matcher(parse_pattern("[:url ??? [:lastmod lastmod] ???]"))),
            ("priority",
             Matcher(parse_pattern("[:url ??? [:priority priority] ???]"))),
            ("subsitemap",
             Matcher(parse_pattern("[:sitemap ??? [:loc loc] ???]"))),
        ]
    return _PATTERNS


def extract_sitemap_entries(xml) -> list[tuple[str, str, str | None,
                                               float | None]]:
    """One body -> [(kind, loc, lastmod, priority)] in document order.

    ``kind`` is ``'url'`` for urlset entries, ``'sitemap'`` for
    sitemapindex children. Raises on malformed XML (the DataFrame
    face catches and counts)."""
    tree = parse_xml(xml)
    names = [n for n, _ in _matchers()]
    pats = [m for _, m in _matchers()]
    by_node: dict[int, dict] = {}
    order: list[int] = []
    for node_id, _node, results in scan(tree, *pats):
        row = by_node.get(node_id)
        if row is None:
            row = by_node[node_id] = {}
            order.append(node_id)
        for name, b in zip(names, results):
            if b is not None:
                row[name] = str(next(iter(b.values())))
    out = []
    for nid in order:
        row = by_node[nid]
        if "subsitemap" in row:
            out.append(("sitemap", row["subsitemap"], None, None))
        elif "loc" in row:
            prio = row.get("priority")
            try:
                prio_f = float(prio) if prio is not None else None
            except ValueError:
                prio_f = None
            out.append(("url", row["loc"], row.get("lastmod"), prio_f))
    return out


SITEMAP_SCHEMA = ("host string, kind string, loc string, "
                  "lastmod string, priority double")


def parse_sitemaps(bodies: DataFrame, host_col: str = "host",
                   body_col: str = "sitemap_xml") -> DataFrame:
    """(host, xml) -> (host, kind, loc, lastmod, priority) rows."""

    def gen(batches):
        for pdf in batches:
            out: list[tuple] = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if body is None:
                    continue
                try:
                    entries = extract_sitemap_entries(body)
                except Exception:
                    continue  # lenient: malformed sitemap drops
                for kind, loc, lastmod, prio in entries:
                    out.append((host, kind, loc, lastmod, prio))
            yield pd.DataFrame(out, columns=[
                "host", "kind", "loc", "lastmod", "priority"])

    return bodies.select(host_col, body_col).mapInPandas(
        gen, SITEMAP_SCHEMA)

