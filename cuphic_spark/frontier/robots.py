"""RFC 9309 robots.txt: vectorized parse + relational longest-match.

The crawl's default robots stage is the closed-form epoch spec
(crawl.robots_rules — oracle-reproducible by construction). This
module is the PRODUCTION-shaped counterpart for real robots.txt
bodies fetched from hosts (reference parity: cuphic has no crawler —
the robots stage belongs to the north rule's frontier/scheduler,
"robots.txt cache" — and follows RFC 9309 semantics):

* ``parse_robots_text``      — pure-Python single-body parser
  (groups, allow/disallow rules, crawl-delay, sitemaps). Unit-level
  and reused inside the Arrow batches.
* ``parse_robots``           — DataFrame (host, body) -> long rules
  table via ``mapInPandas`` (one Arrow batch per partition; the same
  slow-path budget as page parsing — robots bodies are fetched once
  per host per TTL, orders of magnitude rarer than pages).
* ``rules_dim`` + ``denied_by_rules`` — the one robots evaluator:
  group selection (specific product token beats ``*``) collapses the
  rules to a per-host array, and the verdict is a row-local column
  expression (each pattern is compiled to an anchored Java regex AT
  PARSE TIME and matched with ``regexp_like`` — no Python in the
  per-URL path): longest match wins, tie -> Allow (RFC 9309 §2.2.2:
  least restrictive rule).
* ``robots_allowed``         — per-URL allow/deny decision plus
  crawl-delay: a broadcast left join of ``rules_dim`` and that verdict.

Scale notes: the rules dim is O(hosts x rules/host) — tiny next to
the frontier, so it is broadcast and the URL side never shuffles.
"""

from __future__ import annotations

import re

import pandas as pd  # noqa: F401  (module-level: pandas_udf typehints)

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "parse_robots_text",
    "pattern_to_regex",
    "parse_robots",
    "rules_dim",
    "denied_by_rules",
    "agent_group",
    "path_allowed",
    "robots_allowed",
    "url_path_col",
    "PARSED_SCHEMA",
]

_FIELDS = {"user-agent", "allow", "disallow", "crawl-delay", "sitemap"}


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> anchored Java-compatible regex.

    ``*`` matches any run of octets; a TRAILING ``$`` anchors the
    end; everything else is literal. ``re.escape`` never escapes
    alphanumerics, so its output is valid for Java's Pattern too
    (backslash before a non-alphabetic char is a literal there).
    """
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    body = ".*".join(re.escape(seg) for seg in pattern.split("*"))
    return "^" + body + ("$" if anchored else "")


def _agent_token(value: str) -> str:
    """Product token: first whitespace-delimited word, version tail
    (``/1.2``) dropped, lowercased — the comparison RFC 9309 §2.2.1
    prescribes is case-insensitive on the product token."""
    tok = value.split()[0] if value.split() else ""
    return tok.split("/")[0].lower()


def parse_robots_text(body: str) -> dict:
    """Parse one robots.txt body into groups + sitemaps.

    Returns ``{"groups": [{"agents": [...], "rules": [(allow,
    pattern), ...], "delay": float|None}], "sitemaps": [...]}``.

    RFC 9309 shape: a group is one or more consecutive User-agent
    lines followed by its rules; a User-agent line after rules starts
    a new group; rules before any User-agent line are ignored; blank
    lines are not significant; ``#`` starts a comment; field names
    are case-insensitive; an empty Allow/Disallow value matches
    nothing (dropped). ``Crawl-delay`` attaches to the group (first
    numeric value wins), ``Sitemap`` is global.
    """
    groups: list[dict] = []
    pending_agents: list[str] = []
    current: dict | None = None
    sitemaps: list[str] = []

    if body.startswith("\ufeff"):
        body = body[1:]
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field not in _FIELDS:
            continue
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if field == "user-agent":
            tok = _agent_token(value)
            if not tok:
                continue
            if current is not None and not pending_agents:
                # UA line after rules: close the group, start fresh.
                current = None
            pending_agents.append(tok)
            continue
        # allow / disallow / crawl-delay: attach to the open group.
        if pending_agents:
            current = {"agents": pending_agents, "rules": [],
                       "delay": None}
            groups.append(current)
            pending_agents = []
        if current is None:
            continue  # rule outside any group: ignored (RFC 9309 §2.2)
        if field == "crawl-delay":
            if current["delay"] is None:
                try:
                    current["delay"] = float(value)
                except ValueError:
                    pass
            continue
        if value:  # empty Allow/Disallow matches nothing
            current["rules"].append((field == "allow", value))
    return {"groups": groups, "sitemaps": sitemaps}


PARSED_SCHEMA = ("host string, kind string, agent string, "
                 "allow boolean, pattern string, regex string, "
                 "pattern_len int, delay double")


def parse_robots(bodies: DataFrame, host_col: str = "host",
                 body_col: str = "robots_txt") -> DataFrame:
    """(host, body) -> long parsed table, one Arrow pass.

    Output rows, discriminated by ``kind``:

    * ``rule``    — (host, agent, allow, pattern, regex, pattern_len)
      one row PER (agent in group) x (rule in group): group merging
      for repeated agents (RFC 9309 §2.2.1) then falls out of plain
      relational selection downstream.
    * ``delay``   — (host, agent, delay)
    * ``sitemap`` — (host, pattern=url)
    """
    cols = [host_col, body_col]

    def gen(batches):
        for pdf in batches:
            out: list[tuple] = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if body is None:
                    continue
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                parsed = parse_robots_text(body)
                for g in parsed["groups"]:
                    for agent in g["agents"]:
                        for allow, pattern in g["rules"]:
                            out.append((host, "rule", agent, allow,
                                        pattern,
                                        pattern_to_regex(pattern),
                                        len(pattern), None))
                        if g["delay"] is not None:
                            out.append((host, "delay", agent, None,
                                        None, None, None, g["delay"]))
                for sm in parsed["sitemaps"]:
                    out.append((host, "sitemap", None, None, sm, None,
                                None, None))
            yield pd.DataFrame(out, columns=[
                "host", "kind", "agent", "allow", "pattern", "regex",
                "pattern_len", "delay"])

    return bodies.select(*cols).mapInPandas(gen, PARSED_SCHEMA)


def url_path_col(url):
    """path?query part of an absolute URL as a column expression
    (empty path -> ``/`` per RFC 9309 §2.2.2)."""
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/[^#]*)?", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def _select_group(parsed: DataFrame, kind: str, agent: str) -> DataFrame:
    """Rows of ``kind`` from the group that applies to ``agent`` per
    host: the specific product-token group if the host has one, else
    the ``*`` group (RFC 9309 §2.2.1).

    Group selection happens ONCE per host over ALL agent-bearing
    rows (rules and delays together), THEN filters to ``kind`` — so
    a specific group with rules but no Crawl-delay yields no delay
    row (null downstream) instead of borrowing the ``*`` group's
    delay, which would mix two groups (advisor round-6)."""
    agent = agent.lower()
    cand = (parsed
            .filter(F.col("agent").isin(agent, "*"))
            .withColumn("_spec", (F.col("agent") == agent).cast("int")))
    w = Window.partitionBy("host")
    return (cand
            .withColumn("_mx", F.max("_spec").over(w))
            .filter((F.col("_spec") == F.col("_mx"))
                    & (F.col("kind") == kind))
            .drop("_spec", "_mx"))


def rules_dim(parsed: DataFrame, agent: str) -> DataFrame:
    """The robots dim: (host, robots_rules array<struct<regex,
    pattern_len, allow>>) — one row per host that HAS an applicable
    group (hosts absent -> left-join null -> allowed). The same shape
    the crawl's closed-form spec (crawl.robots_rules) emits; the wave
    loop and ``robots_allowed`` broadcast-join it and evaluate
    ``denied_by_rules`` row-local. Rule order inside the array is
    irrelevant — the verdict is a max over matches."""
    rules = _select_group(parsed, "rule", agent)
    return (rules.groupBy("host")
            .agg(F.collect_list(F.struct(
                F.col("regex"), F.col("pattern_len"),
                F.col("allow"))).alias("robots_rules")))


def denied_by_rules(path, rules):
    """Column-side RFC 9309 verdict over a ``rules_dim`` array:
    longest matching pattern wins, equal length -> Allow wins
    (§2.2.2 least-restrictive), no applicable group or no matching
    rule -> allowed. Pure column expressions (higher-order functions
    + per-row regexp_like against the parse-time anchored regex), so
    the decision is JVM-side, evaluated row-local against the
    broadcast array — the one evaluator behind the wave loop and
    ``robots_allowed``; ``path_allowed`` is its Python twin."""
    matched = F.filter(rules, lambda r: F.regexp_like(path, r["regex"]))
    best = F.array_max(F.transform(matched, lambda r: F.struct(
        r["pattern_len"].alias("pattern_len"),
        r["allow"].cast("int").alias("_allow_rank"),
        r["allow"].alias("allow"))))
    return (F.when(matched.isNull() | (F.size(matched) == 0),
                   F.lit(False))
            .otherwise(~best["allow"]))


def agent_group(parsed: dict, agent: str) -> dict | None:
    """Pure-Python twin of ``_select_group`` over ONE
    ``parse_robots_text`` result: the merged rules + delay of the
    group that applies to ``agent`` (all groups naming the specific
    product token if any exist, else all ``*`` groups; None when
    neither). Unit-testable single-host counterpart of the
    relational path; the crawl oracle builds its deny function from
    this."""
    agent = agent.lower()
    spec = [g for g in parsed["groups"] if agent in g["agents"]]
    star = [g for g in parsed["groups"] if "*" in g["agents"]]
    chosen = spec or star
    if not chosen:
        return None
    delays = [g["delay"] for g in chosen if g["delay"] is not None]
    return {"rules": [r for g in chosen for r in g["rules"]],
            "delay": min(delays) if delays else None}


def path_allowed(group: dict | None, path: str) -> bool:
    """Pure-Python RFC 9309 §2.2.2 verdict for one path against an
    ``agent_group`` result: longest match wins, tie -> Allow, no
    match / no group -> allowed."""
    if group is None:
        return True
    best = None
    for allow, pattern in group["rules"]:
        if re.match(pattern_to_regex(pattern), path):
            key = (len(pattern), 1 if allow else 0)
            if best is None or key > best[0]:
                best = (key, allow)
    return True if best is None else best[1]


def robots_allowed(urls: DataFrame, parsed: DataFrame, agent: str,
                   url_col: str = "url") -> DataFrame:
    """Per-URL RFC 9309 verdict, all JVM-side after the parse.

    Adds to ``urls``: ``allowed`` (boolean — no applicable group or
    no matching rule means allowed), ``crawl_delay`` (double or null,
    from the same group that decided). The verdict is
    ``denied_by_rules`` over the broadcast ``rules_dim`` — the same
    evaluator the crawl's wave loop runs.
    """
    rules = rules_dim(parsed, agent)
    delays = (_select_group(parsed, "delay", agent)
              .groupBy("host").agg(F.min("delay").alias("crawl_delay")))

    keyed = urls.select(
        F.col(url_col).alias("_u"),
        F.lower(F.regexp_extract(url_col,
                                 r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)",
                                 1)).alias("host"),
        url_path_col(F.col(url_col)).alias("_path")).distinct()

    # the parsed dims are O(hosts x rules/host) — BROADCAST them
    # explicitly: their MapInPandas lineage has no stats, so without
    # the hint Catalyst may instead broadcast (or worse, shuffle) the
    # URL side, which is the 10^10-row side at crawl scale
    out = (keyed
           .join(F.broadcast(rules), "host", "left")
           .join(F.broadcast(delays), "host", "left")
           .select(F.col("_u").alias(url_col),
                   (~denied_by_rules(F.col("_path"),
                                     F.col("robots_rules")))
                   .alias("allowed"),
                   "crawl_delay"))
    return urls.join(out, url_col, "left")


# ---------------------------------------------------------------------------
# Robots Exclusion Protocol page-level extensions: <meta name=robots>
# directives and rel=nofollow link hygiene (Google's REP extensions;
# the page-level half of what robots.txt does host-level). Both ride
# the kernel pattern engine — no extra parse pass.
# ---------------------------------------------------------------------------

META_ROBOTS_PATTERN = "[:meta {:name mname :content content}]"
ANCHOR_REL_PATTERN = "[:a {:href href :rel ?rel} anchor]"


def meta_directives(matches) -> "DataFrame":
    """Per-page robots meta verdict from kernel matches of
    META_ROBOTS_PATTERN: (url, noindex, nofollow_meta). A page
    without the tag (or with name != robots) gets false/false via
    the caller's left join; multiple robots metas OR together
    (conservative: any noindex wins)."""
    from pyspark.sql import functions as F

    name = F.lower(F.element_at("bindings", "mname"))
    content = F.lower(F.element_at("bindings", "content"))
    toks = F.transform(F.split(content, ","), lambda t: F.trim(t))
    has = (lambda d: F.array_contains(toks, d)
           | F.array_contains(toks, "none"))
    return (matches.where(name == "robots")
            .select("url", has("noindex").alias("ni"),
                    has("nofollow").alias("nf"))
            .groupBy("url")
            .agg(F.max("ni").alias("noindex"),
                 F.max("nf").alias("nofollow_meta")))


def followable_links(matches) -> "DataFrame":
    """Kernel matches of ANCHOR_REL_PATTERN -> (url, href, anchor,
    followable): followable is false iff the anchor's rel attribute
    token-contains nofollow (space-separated per HTML; absent rel =
    followable). Page-level nofollow (meta_directives) composes on
    top via join — this is the per-link half."""
    from pyspark.sql import functions as F

    # the optional-attr binding keeps its ?-prefixed name (the
    # reference's v1 binding-key quirk, cf. the p_id gate)
    rel = F.lower(F.coalesce(F.element_at("bindings", "?rel"),
                             F.lit("")))
    toks = F.split(rel, " +")
    return matches.select(
        "url",
        F.element_at("bindings", "href").alias("href"),
        F.element_at("bindings", "anchor").alias("anchor"),
        (~F.array_contains(toks, "nofollow")).alias("followable"))
