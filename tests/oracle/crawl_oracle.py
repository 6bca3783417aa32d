"""Single-process crawl oracle — defines the expected crawl ordering
and URL-seen membership (BASELINE.json north_rule: "matching the
reference crawl ordering ... given the same seed list and politeness
budget"; cuphic has no crawler, so this oracle IS the reference).

Deliberately independent of the Spark implementation: plain Python
sets/sorted lists, its own canonicalization (urllib), its own robots
logic, its own link extraction (regex over the generated html). Only
the web-graph spec (cuphic_spark.frontier.webgraph) is shared — it is
the simulated *input*, not frontier logic.

The frontier model mirrors the manifest protocol exactly
(frontier/bands.py): score bands split into score-sorted RUNS
("segments"), waves reading a deterministic segment set with a score
cut (scheduling sees the exact prefix {score >= cut}; consumed rows
below the cut pass through), segment creation order (seq), and
band consolidation — all pure functions of per-score row counts, so
no Spark-side physical detail leaks in.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import urljoin, urlsplit, urlunsplit

from cuphic_spark.frontier import webgraph

_HREF_RE = re.compile(r'<a href="([^"]*)"')
_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize(href: str, base: str) -> str:
    absolute = urljoin(base, href)
    parts = urlsplit(absolute)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host if port in (None, _DEFAULT_PORTS.get(scheme)) \
        else f"{host}:{port}"
    return urlunsplit((scheme, netloc, parts.path or "/", parts.query, ""))


def score(url: str, depth: int, is_seed: bool) -> int:
    url_id = int(re.search(r"(\d+)$", url).group(1))
    return (10000 - 1000 * min(depth, 9)) + url_id % 7 \
        + (5000 if is_seed else 0)


def host_of_url(url: str) -> str:
    return re.match(r"^[a-z]+://([^/:?#]+)", url).group(1)


def path_of_url(url: str) -> str:
    m = re.match(r"^[a-z]+://[^/]+(/[^#?]*)", url)
    return m.group(1) if m else "/"


def robots_deny(url: str, version: int = 0) -> bool:
    """Robots epoch ``version`` denies hosts h % 7 == version % 7
    (v=0 = the static spec) — twin of crawl.robots_rules."""
    m = re.match(r"host(\d+)\.example$", host_of_url(url))
    return (m is not None and int(m.group(1)) % 7 == version % 7
            and path_of_url(url).startswith(webgraph.DENY_PREFIX))


# -------------------------------------------------------------------------
# XXH64 twin (public spec, github.com/Cyan4973/xxHash doc/xxhash_spec.md)
# — pure-Python, seed 42 to match Spark's F.xxhash64 on UTF-8 bytes, so
# the oracle can reproduce the crawl's bloom bitmap (and thus the
# bloom_popcount / bloom_est_fp wave metrics) EXACTLY. Differentially
# pinned against F.xxhash64 in tests/test_frontier.py.
# -------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge_round(h: int, acc: int) -> int:
    return ((h ^ _xxh_round(0, acc)) * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8:i + 16],
                                               "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16:i + 24],
                                               "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24:i + 32],
                                               "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


_BLOOM_K = 3
_BLOOM_SALT = 0x9E3779B97F4A7C15


def bloom_bits_of(url: str, m: int) -> list[int]:
    """Twin of seen._bit_indices: k derived positions from the
    xxhash64 of the url, uint64 wraparound arithmetic then mod m."""
    h = xxh64(url.encode("utf-8"))
    return [(((h * (2 * k + 1)) + (_BLOOM_SALT * (k + 1) & _M64))
             & _M64) % m
            for k in range(_BLOOM_K)]


@dataclass
class OracleState:
    frontier: dict = field(default_factory=dict)  # url -> (depth, score, wave)
    seen: dict = field(default_factory=dict)      # url -> added_wave
    fetch_log: list = field(default_factory=list)
    metrics: list = field(default_factory=list)


# -------------------------------------------------------------------------
# Manifest model (twin of frontier/bands.py): segments = score-sorted
# runs per band, each {"urls", "count", "lo", "hi", "seq"}.
# -------------------------------------------------------------------------


def _split_runs(rows: dict, band_width: int, split_rows: int):
    """Split delta rows into per-band runs by per-score counts —
    every distinct score lands wholly in one run (twin of
    bands._with_runs). ``rows``: url -> (depth, score, wave).
    Yields (band, run, urls, lo, hi) in (band asc, run asc) order."""
    by_band: dict[int, dict[int, list[str]]] = {}
    for u, (_d, sc, _w) in rows.items():
        by_band.setdefault(sc // band_width, {}) \
            .setdefault(sc, []).append(u)
    for band in sorted(by_band):
        runs: dict[int, list[tuple[int, list[str]]]] = {}
        cum = 0
        for sc in sorted(by_band[band], reverse=True):
            urls = by_band[band][sc]
            runs.setdefault(cum // split_rows, []).append((sc, urls))
            cum += len(urls)
        for run in sorted(runs):
            scores = [sc for sc, _u in runs[run]]
            urls = [u for _sc, us in runs[run] for u in us]
            yield band, run, urls, min(scores), max(scores)


def _append_delta(segments: dict, delta_rows: dict, band_width: int,
                  split_rows: int, next_seq: int) -> int:
    for band, _run, urls, lo, hi in _split_runs(delta_rows, band_width,
                                                split_rows):
        segments.setdefault(band, []).append(
            {"urls": urls, "count": len(urls), "lo": lo, "hi": hi,
             "seq": next_seq})
        next_seq += 1
    return next_seq


def _consolidate(segments: dict, frontier: dict, band_width: int,
                 split_rows: int, band_max_paths: int,
                 next_seq: int) -> int:
    """Twin of the band_max_paths consolidation: a band whose file
    references outgrow its IDEAL run count (ceil(count/split)) by
    more than band_max_paths is merged and re-split into fresh runs
    with fresh seqs (band asc order)."""
    for band in sorted(segments):
        segs = segments[band]
        count = sum(s["count"] for s in segs)
        ideal = -(-count // split_rows)
        if len(segs) <= ideal + band_max_paths:  # 1 path per segment
            continue
        merged = {u: frontier[u] for s in segs for u in s["urls"]}
        fresh = []
        for b2, _run, urls, lo, hi in _split_runs(merged, band_width,
                                                  split_rows):
            assert b2 == band
            fresh.append({"urls": urls, "count": len(urls), "lo": lo,
                          "hi": hi, "seq": next_seq})
            next_seq += 1
        segments[band] = fresh
    return next_seq


def _plan(segments: dict, band_width: int, need: int):
    """Twin of bands.plan_read: greedy band descent, score-cut
    refinement + closure inside the final band. Returns
    (consumed: dict band -> [segs], s_cut, rows_read, exhausted)."""
    consumed: dict[int, list[dict]] = {}
    s_cut = 0
    total = 0
    order = sorted(segments, reverse=True)
    for i, b in enumerate(order):
        segs = sorted(segments[b],
                      key=lambda s: (-s["hi"], -s["lo"], s["seq"]))
        bcount = sum(s["count"] for s in segs)
        if total + bcount < need or bcount == 0:
            consumed[b] = segs
            total += bcount
            s_cut = b * band_width
            continue
        cuts = sorted({s["lo"] for s in segs},
                      reverse=True) + [b * band_width]
        for cut in cuts:
            cover = [s for s in segs if s["hi"] >= cut]
            if total + sum(s["count"] for s in cover) >= need:
                break
        consumed[b] = cover
        total += sum(s["count"] for s in cover)
        s_cut = b * band_width if len(cover) == len(segs) else cut
        exhausted = (len(cover) == len(segs) and i == len(order) - 1)
        return consumed, s_cut, total, exhausted
    return consumed, s_cut, total, True


def run(universe: int, n_seeds: int, budget_per_host: int, wave_cap: int,
        n_waves: int, page_weight: int = 30,
        band_width: int = 1000, band_split_rows: int = 0,
        band_max_paths: int = 16,
        robots_ttl_waves: int = 0, n_hosts: int = 10,
        use_bloom: bool = False, bloom_bits: int = 1 << 20,
        bloom_min_seen: int = 50_000,
        bloom_fp_rebuild: float = 0.2,
        redirect_mod: int = 0,
        robots_deny_fn=None) -> OracleState:
    split_rows = band_split_rows or max(wave_cap, 1)
    st = OracleState()
    # bloom twin (only when the caller models it — the default test
    # configs never cross bloom_min_seen, matching the Spark side):
    # the crawl's incremental bitmap equals a from-scratch build over
    # the seen set (pinned by test_bloom_path_same_result...), so the
    # oracle recomputes positions over st.seen each wave.
    bloom_active = False
    bloom_m = bloom_bits
    bloom_rebuild = False
    for i in range(n_seeds):
        url = webgraph.url_of(i, n_hosts)
        st.frontier[url] = (0, score(url, 0, True), 0)
        st.seen[url] = 0
    # seed manifest: the seed frontier written through the same
    # run-split path as every later wave delta
    segments: dict[int, list[dict]] = {}
    next_seq = _append_delta(segments, st.frontier, band_width,
                             split_rows, 0)
    next_seq = _consolidate(segments, st.frontier, band_width,
                            split_rows, band_max_paths, next_seq)

    for wave in range(n_waves):
        # ----- segment read protocol (mirrors bands.plan_read + the
        # extension loop in crawl.run_wave): a wave reads only the
        # top segments whose counts cover wave_cap — scheduling sees
        # the exact score prefix {score >= s_cut}; consumed rows
        # below the cut pass through — extending when robots/
        # politeness leave fewer than wave_cap budgeted rows.
        # bloom activation / saturation rebuild at the wave boundary
        # (mirrors the crawl loop: first build when the seen count
        # crosses the threshold; ×8 rebuild one wave after est-fp
        # crossed bloom_fp_rebuild)
        if use_bloom and len(st.seen) >= bloom_min_seen:
            if not bloom_active:
                bloom_active = True
                # first-activation auto-size twin (~16 bits/key,
                # floor 2^8, cap 2^27; bloom_bits remains the floor)
                bloom_m = max(bloom_m, 1 << min(
                    27, max(8, (16 * max(len(st.seen), 1) - 1)
                            .bit_length())))
            elif bloom_rebuild and bloom_m < (1 << 27):
                # ×8 growth capped at the same 2^27 broadcast ceiling
                # as first activation; once capped, rebuilds stop
                bloom_m = min(bloom_m * 8, 1 << 27)
        bloom_rebuild = False

        robots_version = (wave // robots_ttl_waves
                          if robots_ttl_waves else 0)
        need = wave_cap
        while True:
            consumed, s_cut, rows_read, exhausted = _plan(
                segments, band_width, need)
            read_urls = [u for segs in consumed.values()
                         for s in segs for u in s["urls"]]
            eligible_urls = [u for u in read_urls
                             if st.frontier[u][1] >= s_cut]
            deny = robots_deny_fn or robots_deny
            denied = [u for u in eligible_urls
                      if deny(u, robots_version)]
            denied_set = set(denied)
            eligible = sorted(
                ((u, st.frontier[u]) for u in eligible_urls
                 if u not in denied_set),
                key=lambda kv: (-kv[1][1], kv[0]))
            # politeness: per-host budget in (score desc, url asc)
            # order — ranks over the prefix equal full-frontier ranks
            # (rows outside the prefix all score strictly lower)
            per_host: dict[str, int] = {}
            budgeted = []
            for url, (depth, sc, dw) in eligible:
                h = host_of_url(url)
                if per_host.get(h, 0) < budget_per_host:
                    per_host[h] = per_host.get(h, 0) + 1
                    budgeted.append((url, depth, sc))
            if len(budgeted) >= wave_cap or exhausted:
                break
            need = rows_read + (wave_cap - len(budgeted))
        passthrough = [u for u in read_urls
                       if st.frontier[u][1] < s_cut]
        # denied rows drop at first ELIGIBLE read of their segment
        # (they stay in seen, so they can never re-enter or schedule)
        for u in denied:
            del st.frontier[u]
        scheduled = budgeted[:wave_cap]

        links: dict[str, int] = {}
        total_links = 0
        total_bytes = 0
        n_redirects = 0
        for rank, (url, depth, sc) in enumerate(scheduled, start=1):
            i = webgraph.id_of_url(url)
            if webgraph.is_redirector(i, redirect_mod):
                # 301: Location is the page's single outlink — no
                # body, no parse; rides the normal link pipeline
                target = webgraph.redirect_target_url(i, universe,
                                                      n_hosts)
                n_redirects += 1
                st.fetch_log.append({
                    "wave": wave, "rank_in_wave": rank, "url": url,
                    "host": host_of_url(url), "depth": depth,
                    "score": sc, "status": 301, "bytes": 0,
                })
                links[target] = links.get(target, 0) + 1
                total_links += 1
                continue
            html = webgraph.gen_html(url, universe, page_weight,
                                     n_hosts)
            total_bytes += len(html.encode())
            st.fetch_log.append({
                "wave": wave, "rank_in_wave": rank, "url": url,
                "host": host_of_url(url), "depth": depth, "score": sc,
                "status": 200, "bytes": len(html.encode()),
            })
            for href in _HREF_RE.findall(html):
                canon = canonicalize(href, url)
                links[canon] = links.get(canon, 0) + 1
                total_links += 1

        new_urls = [u for u in links
                    if u not in st.seen and u not in st.frontier]
        scheduled_set = {u for u, _d, _s in scheduled}
        for url in scheduled_set:
            del st.frontier[url]
        for u in new_urls:
            st.frontier[u] = (wave + 1, score(u, wave + 1, False), wave + 1)
            st.seen[u] = wave + 1

        # wave delta = residual of the consumed segments (unscheduled
        # eligible ∪ below-cut passthrough) + new discoveries; the
        # manifest replaces consumed segments with the delta's runs —
        # untouched segments carry by reference (copied verbatim)
        delta_rows = {u: st.frontier[u]
                      for u in read_urls
                      if u in st.frontier and u not in scheduled_set}
        for u in new_urls:
            delta_rows[u] = st.frontier[u]
        consumed_seqs = {(b, s["seq"]) for b, segs in consumed.items()
                         for s in segs}
        segments = {b: [s for s in segs
                        if (b, s["seq"]) not in consumed_seqs]
                    for b, segs in segments.items()}
        segments = {b: segs for b, segs in segments.items() if segs}
        next_seq = _append_delta(segments, delta_rows, band_width,
                                 split_rows, next_seq)
        next_seq = _consolidate(segments, st.frontier, band_width,
                                split_rows, band_max_paths, next_seq)

        bloom_metrics = {}
        if use_bloom and bloom_active:
            set_bits = {b for u in st.seen
                        for b in bloom_bits_of(u, bloom_m)}
            pc = len(set_bits)
            fp = (pc / bloom_m) ** _BLOOM_K
            bloom_metrics = {"bloom_m": bloom_m, "bloom_popcount": pc,
                             "bloom_est_fp": fp}
            bloom_rebuild = fp > bloom_fp_rebuild

        st.metrics.append({
            "wave": wave, "scheduled": len(scheduled),
            "fetched": len(scheduled), "denied": len(denied),
            "links_total": total_links, "links_distinct": len(links),
            "new_urls": len(new_urls),
            "dupes": len(links) - len(new_urls), "bytes": total_bytes,
            # the synthetic graph always parses strictly; real crawls
            # surface lenient-ladder drops here
            "pages_dropped": 0,
            "redirects": n_redirects,
            "frontier_rows_read": rows_read,
            # wave delta = residual of consumed segments + new — the
            # O(rows_read + new) write-volume invariant the banded
            # manifest exists to enforce (passthrough rows are read
            # and rewritten, so the formula is unchanged)
            "frontier_rows_written": (rows_read - len(denied)
                                      - len(scheduled) + len(new_urls)),
            "frontier_size": len(st.frontier),
            **bloom_metrics,
        })
    return st
