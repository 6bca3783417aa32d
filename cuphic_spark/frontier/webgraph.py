"""Deterministic synthetic web graph for the crawl pipeline.

The sandbox has no network (and the driver brief forbids external
data), so the "web" is a pure function of the url — identical at any
parallelism level, in the Spark fetch simulator and in the
single-process oracle (tests/oracle/crawl_oracle.py). Everything here
is plain Python shared by both sides; the frontier LOGIC (ordering,
seen-set, politeness) is what the oracle reimplements independently.

Graph spec (universe U pages, ids 0..U-1):

* host(i)   = 0 if i%3==0 else i%10          (skewed: host0 ~ 40%)
* path(i)   = /private/doc/i if i%11==0 else /doc/i
* url(i)    = https://host{host}.example{path}
* links(i)  = (i*7+3) % 6 outlinks; target(i,k) = (i*31+k*17+7) % U
* href form (exercises canonicalization):
    k%3==0 -> relative  "{path(j)}#s{k}"
    k%3==1 -> shouting  "HTTPS://HOST{h}.EXAMPLE:443{path(j)}#s{k}"
    else   -> canonical "https://host{h}.example{path(j)}"
  All three canonicalize to url(j).
* robots: host h denies prefix /private/ iff h % 7 == 0 (hosts 0, 7).
"""

from __future__ import annotations

import re

N_HOSTS = 10
DENY_PREFIX = "/private/"


def host_of(i: int, n_hosts: int = N_HOSTS) -> int:
    """``n_hosts`` generalizes the 10-host default (the oracle-pinned
    spec) for production-shaped benchmarks: a 10^6-url wave over 10
    hosts caps every per-host window at 10 tasks and makes politeness
    degenerate — real crawl waves spread over 10^4-10^6 hosts. The
    host-0 skew (every i%3==0) and the h%7 robots rule are preserved
    at any host count."""
    return 0 if i % 3 == 0 else i % n_hosts


def path_of(i: int) -> str:
    return f"/private/doc/{i}" if i % 11 == 0 else f"/doc/{i}"


def url_of(i: int, n_hosts: int = N_HOSTS) -> str:
    return f"https://host{host_of(i, n_hosts)}.example{path_of(i)}"


def n_links(i: int) -> int:
    return (i * 7 + 3) % 6


def link_target(i: int, k: int, universe: int) -> int:
    return (i * 31 + k * 17 + 7) % universe


def href_of(i: int, k: int, universe: int,
            n_hosts: int = N_HOSTS) -> str:
    j = link_target(i, k, universe)
    h = host_of(j, n_hosts)
    if k % 3 == 0:
        return f"{path_of(j)}#s{k}"
    if k % 3 == 1:
        return f"HTTPS://HOST{h}.EXAMPLE:443{path_of(j)}#s{k}"
    return url_of(j, n_hosts)


_ID_RE = re.compile(r"/doc/(\d+)$")

_FILLER_CACHE: dict[int, str] = {}


def _filler(seed: int) -> str:
    """Filler paragraph words for ``seed`` — memoized on
    ``seed % 9973``, which fully determines the string (every word is
    ``(seed + 11w) % 9973``): at most 9973 cached strings (~1 MB per
    worker). BYTE-IDENTICAL to the uncached form — the fetch
    simulator's cost is a stand-in for network IO, not part of any
    measured engine claim, and profiling showed this genexpr was 6x
    the cost of the actual parse+extract it feeds."""
    key = seed % 9973
    w = _FILLER_CACHE.get(key)
    if w is None:
        w = " ".join(f"w{(key + 11 * x) % 9973}" for x in range(16))
        _FILLER_CACHE[key] = w
    return w


def id_of_url(url: str) -> int:
    m = _ID_RE.search(url)
    if not m:
        raise ValueError(f"not a graph url: {url}")
    return int(m.group(1))


def gen_html(url: str, universe: int, weight: int = 30,
             n_hosts: int = N_HOSTS) -> str:
    """Simulated fetch: the page body for ``url``. Pure function of
    (url, universe, weight) — shared verbatim by the Spark fetch
    simulator and the single-process oracle, so both sides always
    agree on bytes and links.

    ``weight`` adds deterministic filler paragraphs (~130 B each).
    The default (~4 KB/page) approximates small real-web pages;
    Common-Crawl-style bodies are 10-100 KB (weight 100-700). Filler
    goes through the full engine parse, so crawl benchmarks exercise
    realistic per-url compute instead of 300-byte toy pages whose
    cost is pure scheduling latency."""
    i = id_of_url(url)
    # list-comprehension body build (round 8): this function is the
    # crawl fetch simulator's hottest loop (~30 f-strings/page across
    # 10^5 pages/wave); hoisting the memoized filler lookup and
    # building via comprehensions measured ~25% faster than the
    # append loop, byte-identical output.
    fill = _filler
    i13 = i * 13
    parts = ([f'<doc><title>Doc {i}</title><p id="p{i}">body of page '
              f"{i} on host {host_of(i, n_hosts)}</p>"]
             + [f'<p id="f{i}-{b}">{fill(i13 + 7 * b)}</p>'
                for b in range(weight)]
             + [f'<a href="{href_of(i, k, universe, n_hosts)}">L{i}-{k}</a>'
                for k in range(n_links(i))])
    parts.append("</doc>")
    return "".join(parts)


def is_redirector(i: int, redirect_mod: int) -> bool:
    """Deterministic redirect spec: with ``redirect_mod`` R > 0,
    every url id with ``i % R == 0`` answers 301 instead of a page."""
    return redirect_mod > 0 and i % redirect_mod == 0


def redirect_target_url(i: int, universe: int,
                        n_hosts: int = N_HOSTS) -> str:
    """301 Location for redirector ``i``: the next url id (mod
    universe). For R >= 2 the target id has ``(i+1) % R == 1``, so a
    target is never itself a redirector — single-hop by construction
    here; in general multi-hop chains resolve ACROSS waves (the
    target re-enters the frontier like any discovered link) and
    loops terminate via the seen set."""
    return url_of((i + 1) % universe, n_hosts)
