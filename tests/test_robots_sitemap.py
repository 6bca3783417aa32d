"""RFC 9309 robots.txt parse/longest-match + sitemap-via-patterns.

The robots pure parser is pinned against hand-derived RFC 9309
semantics (group selection, longest match, tie -> Allow, wildcards,
$-anchor, empty values, comments, case-insensitive fields); the
DataFrame face is pinned end-to-end on a small corpus. The sitemap
extractor is pinned on urlset/sitemapindex bodies including optional
fields and whitespace noise.
"""

from __future__ import annotations

import pytest

from cuphic_spark.frontier.robots import (
    parse_robots_text,
    pattern_to_regex,
    parse_robots,
    robots_allowed,
)
from cuphic_spark.frontier.sitemap import (
    extract_sitemap_entries,
    parse_sitemaps,
)

BODY = """\
# demo robots
User-agent: OtherBot
Disallow: /

User-Agent: CuphicBot/2.1
Disallow: /private/
Allow: /private/pub*
Disallow: /*.tmp$
Crawl-delay: 3
Crawl-delay: 9

User-agent: *
Disallow: /doc/3
Allow: /doc/
Allow: /tie/a
Disallow: /tie/a
Sitemap: https://h.example/sitemap.xml
"""


class TestParseRobotsText:
    def test_groups_and_fields(self):
        p = parse_robots_text(BODY)
        agents = [g["agents"] for g in p["groups"]]
        assert agents == [["otherbot"], ["cuphicbot"], ["*"]]
        cuphic = p["groups"][1]
        assert cuphic["rules"] == [(False, "/private/"),
                                   (True, "/private/pub*"),
                                   (False, "/*.tmp$")]
        assert cuphic["delay"] == 3.0  # first numeric value wins
        assert p["sitemaps"] == ["https://h.example/sitemap.xml"]

    def test_stacked_agents_share_group(self):
        p = parse_robots_text(
            "User-agent: a\nUser-agent: b\nDisallow: /x\n")
        assert p["groups"][0]["agents"] == ["a", "b"]

    def test_rules_before_any_group_ignored(self):
        p = parse_robots_text("Disallow: /x\nUser-agent: *\nAllow: /\n")
        assert len(p["groups"]) == 1
        assert p["groups"][0]["rules"] == [(True, "/")]

    def test_empty_value_and_comments_and_unknown_fields(self):
        p = parse_robots_text(
            "User-agent: *\nDisallow:\nDisallow: /a # tail comment\n"
            "Host: example.com\nNoise without colon\n")
        assert p["groups"][0]["rules"] == [(False, "/a")]

    def test_bom_and_crlf(self):
        p = parse_robots_text("﻿User-agent: *\r\nDisallow: /a\r\n")
        assert p["groups"][0]["rules"] == [(False, "/a")]

    def test_ua_after_rules_starts_new_group(self):
        p = parse_robots_text(
            "User-agent: a\nDisallow: /x\nUser-agent: b\nDisallow: /y\n")
        assert [(g["agents"], g["rules"]) for g in p["groups"]] == [
            (["a"], [(False, "/x")]), (["b"], [(False, "/y")])]


class TestRobotsFuzz:
    def test_parser_never_crashes_on_line_soup(self):
        """300 deterministic pseudo-random robots bodies (shuffled
        field soup, junk lines, weird casing/whitespace, empty
        values, high unicode) must parse without raising and produce
        structurally well-formed groups."""
        import random

        rng = random.Random(42)
        fields = ["User-agent", "user-AGENT", "Disallow", "Allow",
                  "Crawl-delay", "Sitemap", "Host", "Noise"]
        values = ["*", "cuphicbot", "", "/", "/a/b", "/a*", "/x$",
                  "café/€", "  spaced  ", "9", "nan",
                  "no colon here", ":", "# only comment"]
        for _ in range(300):
            lines = []
            for _ in range(rng.randrange(0, 25)):
                if rng.random() < 0.2:
                    lines.append(rng.choice(values))
                else:
                    lines.append(f"{rng.choice(fields)}:"
                                 f"{rng.choice(values)}")
            parsed = parse_robots_text("\n".join(lines))
            for g in parsed["groups"]:
                assert g["agents"]
                for allow, pattern in g["rules"]:
                    assert isinstance(allow, bool) and pattern
                    # every emitted pattern must compile to a valid
                    # regex (the JVM matches these column-side)
                    import re
                    re.compile(pattern_to_regex(pattern))

    def test_differential_vs_stdlib_on_prefix_corpora(self):
        """Where RFC 9309 and stdlib urllib.robotparser semantics
        coincide — single-group, Disallow-only plain prefixes (no
        wildcards, no Allow, so rule ORDER cannot differ from
        longest-match) — the two parsers must agree on every
        decision."""
        import random
        import urllib.robotparser

        rng = random.Random(7)
        paths = ["/", "/a", "/a/b", "/a/bc", "/b", "/ab", "/a/b/c",
                 "/abc/d", "/x"]
        for _ in range(50):
            prefixes = rng.sample(
                ["/a", "/a/b", "/b", "/ab", "/abc", "/x"],
                rng.randrange(1, 4))
            body = "User-agent: *\n" + "".join(
                f"Disallow: {p}\n" for p in prefixes)
            rp = urllib.robotparser.RobotFileParser()
            rp.parse(body.splitlines())
            parsed = parse_robots_text(body)
            rules = [(a, pat) for g in parsed["groups"]
                     for a, pat in g["rules"]]
            import re
            for path in paths:
                matches = [(len(pat), a) for a, pat in rules
                           if re.match(pattern_to_regex(pat), path)]
                mine = (max(matches)[1] if matches else True)
                assert mine == rp.can_fetch("cuphicbot",
                                            f"https://h.example{path}"), \
                    (body, path)


class TestPatternToRegex:
    @pytest.mark.parametrize("pattern,path,match", [
        ("/private/", "/private/doc", True),
        ("/private/", "/privateX", False),
        ("/private/pub*", "/private/pub", True),
        ("/private/pub*", "/private/public/1", True),
        ("/*.tmp$", "/a/b.tmp", True),
        ("/*.tmp$", "/a/b.tmp2", False),
        ("/a$", "/a", True),
        ("/a$", "/ab", False),
        ("/doc/3", "/doc/34", True),   # prefix semantics
        ("/p?q=*", "/p?q=1", True),    # regex metachars escaped
        ("/p?q=*", "/pXq=1", False),
    ])
    def test_semantics(self, pattern, path, match):
        import re
        assert bool(re.match(pattern_to_regex(pattern), path)) is match


class TestRobotsDataFrame:
    def test_end_to_end_decisions(self, spark):
        bodies = spark.createDataFrame(
            [("h.example", BODY),
             ("empty.example", "")],
            "host string, robots_txt string")
        parsed = parse_robots(bodies)
        urls = spark.createDataFrame(
            [("https://h.example/private/doc1",),
             ("https://h.example/private/pub9",),
             ("https://h.example/junk.tmp",),
             ("https://h.example/free",),
             ("https://h.example/tie/a",),
             ("https://HOST-CASE.example/x",),
             ("https://empty.example/anything",)],
            "url string")
        got = {r["url"]: (r["allowed"], r["crawl_delay"])
               for r in robots_allowed(urls, parsed, "CuphicBot").collect()}
        assert got["https://h.example/private/doc1"] == (False, 3.0)
        assert got["https://h.example/private/pub9"] == (True, 3.0)
        assert got["https://h.example/junk.tmp"] == (False, 3.0)
        assert got["https://h.example/free"] == (True, 3.0)
        # the * group does NOT apply (specific group exists):
        assert got["https://h.example/tie/a"] == (True, 3.0)
        assert got["https://HOST-CASE.example/x"] == (True, None)
        assert got["https://empty.example/anything"] == (True, None)

    def test_star_group_when_no_specific(self, spark):
        bodies = spark.createDataFrame(
            [("s.example",
              "User-agent: *\nDisallow: /doc/3\nAllow: /doc/\n"
              "Allow: /tie/a\nDisallow: /tie/a\n")],
            "host string, robots_txt string")
        parsed = parse_robots(bodies)
        urls = spark.createDataFrame(
            [("https://s.example/doc/34",),
             ("https://s.example/doc/4",),
             ("https://s.example/tie/a",)], "url string")
        got = {r["url"]: r["allowed"]
               for r in robots_allowed(urls, parsed, "cuphicbot").collect()}
        assert got["https://s.example/doc/34"] is False   # longest match
        assert got["https://s.example/doc/4"] is True
        assert got["https://s.example/tie/a"] is True     # tie -> Allow

    def test_sitemap_rows_surface(self, spark):
        bodies = spark.createDataFrame(
            [("h.example", BODY)], "host string, robots_txt string")
        rows = (parse_robots(bodies)
                .filter("kind = 'sitemap'").collect())
        assert [r["pattern"] for r in rows] == [
            "https://h.example/sitemap.xml"]


class TestOneRobotsEvaluator:
    @pytest.mark.parametrize("epoch", [0, 3])
    def test_spec_and_parsed_dims_agree(self, spark, epoch):
        """The crawl's closed-form spec dim (crawl.robots_rules) and the
        dim parsed from robots.txt bodies ENCODING the same epoch spec
        (rules_dim(parse_robots(...))) have one schema and give equal
        denied_by_rules verdicts on every host's /private/ and /doc/
        urls — one evaluator behind both sources."""
        from pyspark.sql import functions as F

        from cuphic_spark.frontier.crawl import robots_rules
        from cuphic_spark.frontier.robots import denied_by_rules, rules_dim

        n_hosts = 10
        bodies = spark.createDataFrame(
            [(f"host{h}.example",
              "User-agent: *\nDisallow: /private/\n"
              if h % 7 == epoch % 7 else "User-agent: *\nDisallow:\n")
             for h in range(n_hosts)], "host string, robots_txt string")
        spec = robots_rules(spark, epoch, n_hosts)
        parsed = rules_dim(parse_robots(bodies), "cuphicbot")
        assert spec.dtypes == parsed.dtypes

        urls = spark.createDataFrame(
            [(f"host{h}.example", path) for h in range(n_hosts)
             for path in ("/private/doc/11", "/private/", "/doc/5",
                          "/doc/private/1", "/")],
            "host string, path string")

        def verdicts(dim):
            return sorted(
                (r.host, r.path, r.den) for r in urls
                .join(F.broadcast(dim), "host", "left")
                .select("host", "path", denied_by_rules(
                    F.col("path"), F.col("robots_rules")).alias("den"))
                .collect())

        got = verdicts(spec)
        assert got == verdicts(parsed)
        denied = {(h, p) for h, p, den in got if den}
        assert denied == {
            (f"host{h}.example", p) for h in range(n_hosts)
            if h % 7 == epoch % 7
            for p in ("/private/doc/11", "/private/")}

    @pytest.mark.parametrize("version,hosts",
                             [(5, []), (0, ["host0.example"])])
    def test_spec_dim_is_a_local_relation(self, spark, version, hosts):
        """The spec dim plans as a driver-side LocalTableScan, never a
        Python-RDD scan, whether or not the epoch denies any host (with
        3 hosts, epoch 5 denies none)."""
        from cuphic_spark.frontier.crawl import robots_rules
        from cuphic_spark.plans import executed_plan

        dim = robots_rules(spark, version=version, n_hosts=3)
        plan = executed_plan(dim)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert dim.dtypes == [
            ("host", "string"),
            ("robots_rules",
             "array<struct<regex:string,pattern_len:int,allow:boolean>>")]
        assert [r.host for r in dim.collect()] == hosts


class TestRfcRobotsInCrawl:
    def test_rfc_source_matches_spec_crawl(self, spark, tmp_path):
        """The production robots source end-to-end: per-host
        robots.txt bodies ENCODING the epoch spec (h%7 == epoch%7
        hosts disallow /private/) parsed by the RFC parser and fed to
        the wave loop via extra['robots_txt_fn'] must schedule
        byte-identically to the closed-form spec path — parse ->
        group-select -> rules_dim, the dim shape robots_rules emits,
        through the one denied_by_rules evaluator."""
        import shutil

        from cuphic_spark.frontier.crawl import (
            CrawlConfig,
            crawl,
            read_fetch_log,
        )
        from tests.oracle import crawl_oracle

        kw = dict(universe=5000, n_seeds=12, budget_per_host=4,
                  wave_cap=24, n_waves=2)

        def bodies_fn(spark_, version, n_hosts):
            rows = []
            for h in range(n_hosts):
                if h % 7 == version % 7:
                    body = ("# spec twin\nUser-agent: otherbot\n"
                            "Disallow: /\n\nUser-agent: *\n"
                            "Disallow: /private/\n")
                else:
                    body = "User-agent: *\nDisallow:\n"
                rows.append((f"host{h}.example", body))
            return spark_.createDataFrame(
                rows, "host string, robots_txt string")

        d = str(tmp_path / "rfc_robots")
        cfg = CrawlConfig(checkpoint_dir=d, **kw,
                          extra={"robots_txt_fn": bodies_fn})
        summary = crawl(spark, cfg)
        oracle = crawl_oracle.run(**kw)
        assert summary["metrics"] == oracle.metrics
        log = read_fetch_log(spark, cfg).orderBy(
            "wave", "rank_in_wave").collect()
        assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
            [(e["wave"], e["rank_in_wave"], e["url"])
             for e in oracle.fetch_log]
        shutil.rmtree(d, ignore_errors=True)


class TestFullRfcRobotsInCrawl:
    def test_wildcard_allow_corpus_matches_oracle(self, spark,
                                                  tmp_path):
        """Round-6 verdict #1: FULL RFC 9309 semantics (wildcards,
        ``$`` anchors, Allow rules, longest-match, tie -> Allow)
        inside the crawl wave loop. A robots corpus no prefix dim
        can express drives a 3-wave crawl via extra['robots_txt_fn'];
        the single-process oracle re-derives the deny verdicts with
        the pure-Python RFC evaluator — fetch log AND metrics must
        match exactly."""
        import shutil

        from cuphic_spark.frontier.crawl import (
            CrawlConfig,
            crawl,
            read_fetch_log,
        )
        from cuphic_spark.frontier.robots import (
            agent_group,
            parse_robots_text,
            path_allowed,
        )
        from tests.oracle import crawl_oracle
        from tests.oracle.crawl_oracle import path_of_url

        import __spark_entry__ as entry

        kw = dict(universe=4000, n_seeds=10, budget_per_host=4,
                  wave_cap=24, n_waves=3)
        n_hosts = 10

        def bodies_fn(spark_, version, nh):
            return spark_.createDataFrame(
                [(f"host{h}.example",
                  entry._wildcard_robots_body(h)) for h in range(nh)],
                "host string, robots_txt string")

        groups = {h: agent_group(
            parse_robots_text(entry._wildcard_robots_body(h)),
            "cuphicbot") for h in range(n_hosts)}

        def deny(url, version):
            import re as _re

            h = int(_re.match(r"https://host(\d+)\.",
                              url).group(1))
            return not path_allowed(groups[h], path_of_url(url))

        d = str(tmp_path / "full_rfc")
        cfg = CrawlConfig(checkpoint_dir=d, **kw,
                          extra={"robots_txt_fn": bodies_fn})
        summary = crawl(spark, cfg)
        oracle = crawl_oracle.run(**kw, robots_deny_fn=deny)
        assert summary["metrics"] == oracle.metrics
        # the corpus must actually deny something, and something
        # only full semantics can decide (an Allow overriding a
        # longer... a wildcard deny) — else the pin is vacuous
        assert sum(m["denied"] for m in oracle.metrics) > 0
        log = read_fetch_log(spark, cfg).orderBy(
            "wave", "rank_in_wave").collect()
        assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
            [(e["wave"], e["rank_in_wave"], e["url"])
             for e in oracle.fetch_log]
        shutil.rmtree(d, ignore_errors=True)


class TestCrawlDelayBudgets:
    def test_delay_from_deciding_group_only(self, spark):
        """RFC 9309 group selection happens once per host: a specific
        group with rules but no Crawl-delay yields NULL delay — it
        must not borrow the ``*`` group's delay (mixing two groups)."""
        from cuphic_spark.frontier.robots import robots_allowed

        bodies = spark.createDataFrame(
            [("mix.example",
              "User-agent: CuphicBot\nDisallow: /x\n\n"
              "User-agent: *\nDisallow: /y\nCrawl-delay: 9\n"),
             ("star.example",
              "User-agent: *\nDisallow: /y\nCrawl-delay: 7\n")],
            "host string, robots_txt string")
        parsed = parse_robots(bodies)
        urls = spark.createDataFrame(
            [("https://mix.example/x",), ("https://mix.example/y",),
             ("https://star.example/y",)], "url string")
        got = {r["url"]: (r["allowed"], r["crawl_delay"])
               for r in robots_allowed(urls, parsed, "CuphicBot")
               .collect()}
        assert got["https://mix.example/x"] == (False, None)
        assert got["https://mix.example/y"] == (True, None)
        assert got["https://star.example/y"] == (False, 7.0)


class TestSitemap:
    def test_urlset_fields(self):
        entries = extract_sitemap_entries(b"""<urlset>
  <url><loc>https://h0.example/doc/1</loc><lastmod>2026-01-03</lastmod></url>
  <url><loc>https://h0.example/doc/2</loc><priority>0.8</priority></url>
  <url><lastmod>2026-01-05</lastmod><loc>https://h0.example/doc/3</loc></url>
</urlset>""")
        assert entries == [
            ("url", "https://h0.example/doc/1", "2026-01-03", None),
            ("url", "https://h0.example/doc/2", None, 0.8),
            ("url", "https://h0.example/doc/3", "2026-01-05", None)]

    def test_sitemapindex(self):
        entries = extract_sitemap_entries(
            b"<sitemapindex><sitemap><loc>https://a/s1.xml</loc></sitemap>"
            b"<sitemap><loc>https://a/s2.xml</loc></sitemap></sitemapindex>")
        assert entries == [("sitemap", "https://a/s1.xml", None, None),
                           ("sitemap", "https://a/s2.xml", None, None)]

    def test_entry_without_loc_dropped_and_bad_priority(self):
        entries = extract_sitemap_entries(
            b"<urlset><url><lastmod>2026-01-01</lastmod></url>"
            b"<url><loc>https://a/x</loc><priority>high</priority></url>"
            b"</urlset>")
        assert entries == [("url", "https://a/x", None, None)]

    def test_dataframe_face_lenient(self, spark):
        bodies = spark.createDataFrame(
            [("h0.example",
              "<urlset><url><loc>https://h0.example/a</loc></url></urlset>"),
             ("bad.example", "<urlset><url>")],
            "host string, sitemap_xml string")
        rows = parse_sitemaps(bodies).collect()
        assert [(r["host"], r["kind"], r["loc"]) for r in rows] == [
            ("h0.example", "url", "https://h0.example/a")]
