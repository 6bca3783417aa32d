"""The crawl wave loop: frontier -> robots -> politeness -> schedule
-> fetch -> extract -> discover -> merge, checkpointed per wave.

north_rule implementation (BASELINE.json): bloom/cuckoo URL-seen,
per-host politeness buckets, robots cache, priority queue as
host-salted score-sorted partitions, resumable from checkpoint with
per-partition lineage + metrics. The reference (cuphic) has no
crawler; the deterministic contract below is pinned by the
single-process oracle in tests/oracle/crawl_oracle.py.

Determinism contract (identical at ANY parallelism level):

* every ordering uses the total order (score DESC, url ASC);
* depth of a discovered url = discovery wave (independent of which
  page linked it);
* the seen set = every url ever entered into the frontier (seeds
  included; robots-denied urls stay in it, so they never re-enter);
* bloom/cuckoo structures only prune — membership truth is always
  the anti-join against the seen table.

Wave w, given the frontier MANIFEST (score-band files split into
score-sorted runs — see frontier/bands.py) and seen_w:

0. read    = top segments whose manifest counts cover W (greedy
   descent with a score-cut refinement inside the last band —
   plan_read; deterministically extended if robots/politeness leave
   fewer than W budgeted rows) — unread segments are never touched;
   consumed rows BELOW the cut pass straight through to the residual
1. denied   = eligible-prefix rows (score >= cut) whose (host, path)
   hits a robots deny rule (dropped+counted at first eligible read
   of their segment; they can never schedule either way)
2. eligible = prefix - denied
3. per-host rank by (score desc, url asc); keep rank <= budget B
   (ranks over the prefix equal full-frontier ranks: every row
   outside the prefix scores strictly below every prefix row)
4. global top-W by (score desc, url asc) -> scheduled (rank_in_wave)
5. fetch scheduled (simulated: webgraph.gen_html)
6. extract hrefs with the cuphic engine ([:a {:href href} ???]),
   canonicalize (column expressions), distinct
7. new = links - seen_w  (one pre-filter, cuckoo or bloom, + exact
   anti-join)
8. frontier_{w+1} = manifest{unread bands carried BY REFERENCE}
   + written delta{(eligible - scheduled) ∪ new(depth=w+1, scored)}
   — checkpoint write volume is O(rows_read + new), never O(|frontier|)
9. seen_{w+1} = seen_w ∪ new
10. checkpoint: frontier delta + manifest, seen delta, fetch_log,
    metrics, lineage json
"""

from __future__ import annotations

import json
import os
import threading
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from xml.parsers import expat as _expat

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bands as bands_mod
from . import webgraph
from .robots import denied_by_rules, pattern_to_regex
from .seen import SeenFilters, filter_new_urls
from .stages import Executor, Stage
from .urlnorm import canonicalize_cols, host_col, path_col

FRONTIER_SCHEMA = "url string, host string, depth int, score long, discovered_wave int"
SEEN_SCHEMA = "url string, added_wave int"
FETCH_LOG_SCHEMA = ("wave int, rank_in_wave int, url string, host string, "
                    "depth int, score long, status int, bytes long")


@dataclass
class CrawlConfig:
    universe: int = 100_000
    n_hosts: int = 10             # synthetic-universe host count (10 =
    # the oracle-pinned spec). Production-shaped benchmarks raise it:
    # a 10^6-url wave over 10 hosts caps every per-host window at 10
    # tasks and makes politeness degenerate — real waves spread over
    # 10^4-10^6 hosts (webgraph.host_of keeps the host-0 skew and the
    # h%7 robots rule at any count)
    n_seeds: int = 8
    budget_per_host: int = 8      # politeness B
    wave_cap: int = 64            # global W
    n_waves: int = 3
    checkpoint_dir: str = "/tmp/cuphic_crawl"
    partitions: int = 8           # seen/frontier partition count
    bloom_bits: int = 1 << 20     # INITIAL size — auto-resized ×8 at
    # the next wave boundary whenever the estimated false-positive
    # rate (from the bitmap popcount, emitted per wave as
    # bloom_est_fp) crosses bloom_fp_rebuild; a fixed-size bloom
    # saturates silently at ~m/10 keys and quietly becomes a no-op
    bloom_mode: str = "global"    # 'global' (broadcast bitmap, each
    # wave's delta folded in on the crawl pool — right up to ~10^8
    # seen urls) | 'sharded' (one bitmap per seen partition, probed
    # and maintained via partition-local cogroups — the 10^10 design
    # point where a single 16-bits/key bitmap is ~20 GB and cannot
    # broadcast; executor memory is ONE shard, m_shard/8 bytes).
    # Blooms only prune, so scheduling is byte-identical between the
    # modes (invariance-pinned); only the bloom_* metrics and the
    # memory shape differ.
    bloom_min_seen: int = 50_000  # skip bloom build below this (the
    # prefilter only pays once the seen table dwarfs the candidates)
    bloom_fp_rebuild: float = 0.2  # est-fp threshold that schedules a
    # rebuild (from the seen table, with 8x the bits) at the next
    # wave boundary; filters only prune, so scheduling is byte-
    # identical across any resize history (pinned by the forced-
    # saturation test)
    cuckoo_min_seen: int = 50_000  # partition-local cuckoo shard prune
    cuckoo_probe_min_ratio: float = 8.0  # probe the cuckoo shards
    # only when the seen set is at least this many times the previous
    # wave's distinct-link count: the probe Arrow-ships EVERY
    # candidate through a cogroup to let definitely-new urls skip the
    # anti-join, which only pays when seen DWARFS the candidates
    # (steady-state crawl over a 10^10 frontier). In the expansion
    # phase (candidates comparable to seen) it is pure overhead —
    # measured -17% wall on a production-shaped 10^6-url wave. Shard
    # MAINTENANCE follows the same prediction (seen.cuckoo_probes,
    # SeenFilters.maintain): skipped waves DROP the shards — never leave
    # them stale — and the ratio crossing triggers a full rebuild
    # from the seen table. 0 forces probe + maintenance whenever
    # shards can exist.
    salt_buckets: int = 4         # host-salt fan-out for skewed hosts
    compact_every: int = 0        # auto-compact seen deltas every N
    # waves (0 = off; offline compaction via snapshots.compact_seen)
    page_weight: int = 30         # filler paragraphs per synthetic
    # page (~4 KB default; Common-Crawl-style bodies = 100-700)
    broadcast_seen_min: int = 5_000_000  # the seen check's router
    # picks broadcast (two-phase semi/anti where the seen table only
    # STREAMS, never shuffles — the steady-state choice once seen
    # dwarfs a wave's candidates) from this seen size on, else shuffle
    broadcast_max_candidates: int = 2_000_000  # hard candidate ceiling
    # for the broadcast strategy: a wave whose PREVIOUS links_distinct
    # exceeded this falls back to shuffle (advisor: forcing
    # F.broadcast over an unbounded candidate set can blow the driver)
    max_score_histogram: int = 10_000  # loud-failure guard: the
    # distributed top-W relies on scores being COARSE (few distinct
    # values); a fine-grained score_expr would silently turn the
    # histogram collect into an O(|frontier|) driver transfer
    band_width: int = 1000        # frontier score-band width: band =
    # score div band_width; bands are the unit of lazy frontier IO
    # (untouched bands carry forward by manifest reference)
    band_max_paths: int = 16      # rewrite a band once its manifest
    # path list exceeds this (bounds read fan-in per band)
    band_split_rows: int = 0      # sub-band run size: a wave delta is
    # split per band into score-sorted runs of ~this many rows, so a
    # band far larger than the wave cap is read as a run PREFIX, not
    # whole (round-3 verdict item 2). 0 = auto (the wave cap)
    robots_ttl_waves: int = 0     # robots-cache TTL in waves: epoch =
    # wave // ttl selects the rules version (0 = static spec, the
    # deterministic default); oracle models the same schedule
    redirect_mod: int = 0         # deterministic 3xx spec: url ids
    # with i % redirect_mod == 0 answer 301 + Location instead of a
    # page (0 = no redirects, the pinned default). The Location
    # flows through the SAME link pipeline as an extracted href
    # (canonicalize -> seen -> frontier), so chains resolve across
    # waves and loops terminate via the seen set; fetch_log carries
    # the status and the wave metrics count redirects. A custom
    # fetch_fn reports real statuses via the (status, location,
    # body) return shape.
    extra: dict = field(default_factory=dict)


def score_expr(id_col, depth_col, is_seed):
    """Priority: depth-decayed base + per-url jitter + seed bonus.
    Integer arithmetic only (exact everywhere)."""
    base = (10000 - 1000 * F.least(depth_col, F.lit(9)))
    bonus = id_col % 7
    seed_bonus = F.when(F.lit(is_seed), F.lit(5000)).otherwise(F.lit(0))
    return (base + bonus + seed_bonus).cast("long")


def score_py(url_id: int, depth: int, is_seed: bool) -> int:
    return (10000 - 1000 * min(depth, 9)) + url_id % 7 + (5000 if is_seed else 0)


def robots_rules(spark: SparkSession, version: int = 0,
                 n_hosts: int = webgraph.N_HOSTS) -> DataFrame:
    """The robots CACHE: tiny dim table, broadcast at join time,
    refreshed per TTL (SURVEY §2.H "cached with TTL").

    ``version`` models a refresh epoch: epoch v denies hosts with
    h % 7 == v % 7 under DENY_PREFIX (v=0 reproduces the static
    spec). In production the refresh fetches robots.txt per host and
    the version is a fetch timestamp bucket; in the deterministic
    sandbox the spec is versioned closed-form so the oracle can
    reproduce every epoch. The crawl derives the epoch from the wave
    number (``CrawlConfig.robots_ttl_waves``): rules stay CACHED —
    one tiny broadcast per wave, never per url.

    The dim shape is ``frontier.robots.rules_dim``'s (host,
    robots_rules array<struct<regex, pattern_len, allow>>), here one
    Disallow rule per denied host — the shape the RFC 9309 parser
    derives from REAL robots.txt bodies, so a production crawl swaps
    the spec for parsed bodies (``CrawlConfig.extra['robots_txt_fn']``)
    and the wave loop runs the one ``denied_by_rules`` evaluator."""
    rule = (pattern_to_regex(webgraph.DENY_PREFIX),
            len(webgraph.DENY_PREFIX), False)
    rows = [(f"host{h}.example", [rule])
            for h in range(n_hosts) if h % 7 == version % 7]
    # LocalRelation via the Arrow/pandas path (round 8): list-of-rows
    # createDataFrame builds a PYTHON-RDD-backed DF, so every
    # per-wave broadcast build of this dim was a 32-task Spark job
    # each invoking a Python worker for a near-empty partition; a
    # LocalRelation broadcast builds driver-side with zero tasks.
    # An EMPTY pandas frame skips the Arrow path and falls back to
    # that RDD scan, so an epoch that denies no host builds one
    # placeholder row and cuts it with limit(0), which the optimizer
    # folds to an empty LocalRelation.
    import pandas as pd

    dim = spark.createDataFrame(
        pd.DataFrame(rows or [(None, None)],
                     columns=["host", "robots_rules"]),
        schema="host string, robots_rules "
               "array<struct<regex:string,pattern_len:int,allow:boolean>>")
    return dim if rows else dim.limit(0)


def seed_frontier(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    ids = spark.range(cfg.n_seeds).select(F.col("id").cast("long"))
    urls = ids.select(
        F.concat(
            F.lit("https://host"),
            F.when(F.col("id") % 3 == 0, F.lit(0))
            .otherwise(F.col("id") % cfg.n_hosts)
            .cast("string"),
            F.lit(".example"),
            F.when(F.col("id") % 11 == 0,
                   F.concat(F.lit("/private/doc/"), F.col("id").cast("string")))
            .otherwise(F.concat(F.lit("/doc/"), F.col("id").cast("string"))),
        ).alias("url"),
        F.col("id"))
    return urls.select(
        "url",
        host_col(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        score_expr(F.col("id"), F.lit(0), True).alias("score"),
        F.lit(0).alias("discovered_wave"))


def _hrefs_streaming(xml) -> list[str]:
    """Streaming expat twin of the kernel scan for the crawl's FIXED
    link pattern ``[:a {:href href} ???]``: every element whose
    verbatim name is exactly ``a`` (keywordize('a') == :a; names with
    a colon keywordize into a namespace and cannot match) and which
    carries an ``href`` attribute binds that attribute, in preorder —
    exactly the matches the kernel emits for this pattern, with no
    tree materialized. Differentially pinned against the kernel path
    (tests/test_frontier.py: streaming vs kernel link extraction on
    webgraph + soup pages; the crawl oracle pins end-to-end order).

    Raises on malformed input exactly like parse_xml (same expat),
    so it slots into the lenient ladder. The handler is a closure over
    a local list (round 8): the crawl fetch path runs this once per
    page at ~35 elements/page, where the bound-method dispatch + the
    per-page collector-instance construction of the previous class
    shape measured ~8% of the parse cost."""
    if isinstance(xml, str):
        xml = xml.encode("utf-8")
    hrefs: list[str] = []
    append = hrefs.append

    def start(name, attrs, _a="a", _h="href"):
        if name == _a and _h in attrs:
            append(attrs[_h])

    p = _expat.ParserCreate()
    p.buffer_text = True
    p.StartElementHandler = start
    p.Parse(bytes(xml), True)
    return hrefs


def _fetch_extract(scheduled: DataFrame, universe: int,
                   page_weight: int = 30, dropped_acc=None,
                   n_hosts: int = webgraph.N_HOSTS,
                   fetch_fn=None, redirect_mod: int = 0) -> DataFrame:
    """Simulated fetch FUSED with link extraction: ONE Arrow stage
    generates the page body and runs the tree-free expat twin of the
    link pattern ``[:a {:href href} ???]`` (``_hrefs_streaming``, the
    fixed-pattern specialization of the kernel scan — no Hiccup tree
    per page) through the lenient ladder — the raw html never crosses
    the executor boundary. Two rejected shapes, both measured at
    Common-Crawl page weights (~40 KB):

    * fetch stage emitting html + relational match over the nodes
      table — materializes ~300 nested-struct rows per page through
      pandas→Arrow for pages read exactly once (the nodes encoding
      is for parse-once/query-MANY; see compiler.match_nodes);
    * fetch stage emitting html + a second kernel-scrape stage —
      Arrow-ships every page body into the cache and back out to a
      second Python worker, costing more than the parse itself.

    Output = scheduling columns + bytes + href array (~5 entries/
    page); a production variant that persists raw pages would write
    them from this same stage. Unsalvageable pages are counted via
    ``dropped_acc`` (surfaced as the pages_dropped metric).

    ``fetch_fn(url) -> bytes | (status, location, bytes)`` is the
    pluggable FETCHER (default: the deterministic webgraph simulator
    — this sandbox has no network). A bare ``bytes`` return means
    status 200; the tuple shape lets an HTTP fetcher report real
    statuses. A 3xx status with a Location SHORT-CIRCUITS the parse:
    the Location becomes the page's single outlink and rides the
    normal link pipeline (canonicalize -> seen -> frontier), so
    redirect chains resolve across waves and loops terminate via the
    seen set. A production deployment drops an httpx/aiohttp batch
    fetcher in here (`CrawlConfig.extra['fetch_fn']`); everything
    downstream — lenient parse ladder, link extraction, politeness,
    seen set, checkpointing — is fetcher-agnostic (pinned by the
    custom-fetcher crawl test)."""
    from ..operators.parse import parse_html_lenient

    schema = T.StructType(scheduled.schema.fields + [
        T.StructField("status", T.IntegerType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("hrefs", T.ArrayType(T.StringType())),
    ])

    if fetch_fn is None:
        def fetch_fn(u):
            i = webgraph.id_of_url(u)
            if webgraph.is_redirector(i, redirect_mod):
                return (301,
                        webgraph.redirect_target_url(i, universe,
                                                     n_hosts),
                        b"")
            return webgraph.gen_html(u, universe, page_weight,
                                     n_hosts).encode()

    def gen(batches):
        import pyarrow as pa

        # mapInArrow (round 8): scheduling columns ride through the
        # fetch stage untouched — as Arrow arrays they are reused in
        # the output batch zero-copy (the old pandas path paid a full
        # arrow->pandas->arrow conversion of every passthrough column
        # per batch); only `url` is materialized to Python.
        url_ix = None
        for batch in batches:
            if url_ix is None:
                url_ix = batch.schema.get_field_index("url")
            status_col, nbytes, hrefs_col = [], [], []
            for u in batch.column(url_ix).to_pylist():
                res = fetch_fn(u)
                if isinstance(res, tuple):
                    status, location, data = res
                else:
                    status, location, data = 200, None, res
                if 300 <= status < 400 and location:
                    hrefs = [location]
                else:
                    hrefs, _mode = parse_html_lenient(
                        data, parser=_hrefs_streaming)
                    if hrefs is None:
                        if dropped_acc is not None:
                            dropped_acc.add(1)
                        hrefs = []
                status_col.append(status)
                nbytes.append(len(data))
                hrefs_col.append(hrefs)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.array(status_col, type=pa.int32()),
                   pa.array(nbytes, type=pa.int64()),
                   pa.array(hrefs_col,
                            type=pa.list_(pa.string()))],
                names=list(batch.schema.names)
                + ["status", "bytes", "hrefs"])

    return scheduled.mapInArrow(gen, schema)


_COL_MEMO: dict = {}
# run_wave's pool threads build plans concurrently with the main thread
_COL_MEMO_LOCK = threading.Lock()


def _memo_cols(key, build):
    """Reuse wave-invariant Column expression trees across waves and
    bench legs (round 8): building a deep Column tree (the url
    canonicalizer is ~50 nested calls) costs dozens of py4j round
    trips per wave. The trees memoized here depend only on column
    NAMES plus the literals baked into the key — never on a
    DataFrame — so a single JVM expression instance can appear in any
    number of plans (Columns are immutable expression wrappers; the
    analyzer resolves them per-plan). Keyed on the active
    SparkContext so a restarted session never sees stale JVM refs."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    with _COL_MEMO_LOCK:
        hit = _COL_MEMO.get(key)
    if hit is not None and hit[0] is sc:
        return hit[1]
    # built outside the lock: a racing miss only duplicates a build
    val = build()
    with _COL_MEMO_LOCK:
        if len(_COL_MEMO) >= 4096:
            # bound the memo: wave-keyed entries accumulate over very
            # long crawls, and each holds a py4j ref that pins a JVM
            # expression — drop stale-context entries first, everything
            # if still full (rebuild is the pre-memo behavior: a few ms
            # per tree)
            stale = [k for k, v in _COL_MEMO.items() if v[0] is not sc]
            for k in stale:
                del _COL_MEMO[k]
            if len(_COL_MEMO) >= 4096:
                _COL_MEMO.clear()
        _COL_MEMO[key] = (sc, val)
    return val


@dataclass
class Wave:
    """One scheduled wave: run_wave's write-ready plans, routing
    decisions and observed metrics — the ``schedule`` stage's result,
    which the wave's commit stages read (see STAGES).

    ``frontier_delta`` carries the band/part/salt layout columns
    (write_wave_frontier prepped=True); ``seen_delta_out`` is the
    write-ready seen-delta layout; ``seen_delta`` itself stays the
    plain projection the bloom/cuckoo maintenance reads straight off
    the new_rows cache (the layouts' repartition would cost those
    folds an extra shuffle). ``caches`` are the DataFrames to
    unpersist once the wave is committed. ``observed`` maps each
    metric group to (Observation, the cached DataFrame it observes,
    its aggregates): ``fetch`` rides the fetch_log write, ``links``
    and ``new`` the seen-delta write."""
    wave: int
    plan: object                  # bands.ReadPlan
    frontier_delta: DataFrame
    seen_delta: DataFrame
    seen_delta_out: DataFrame
    fetch_log: DataFrame
    delta_counts: dict
    caches: list
    seen_strategy: str            # routing decisions -> lineage
    cuckoo_probed: bool
    n_denied: int
    dropped: object               # pages_dropped accumulator
    observed: dict
    new_score_base: int           # lowest score a new row can take

    def get(self, name: str) -> dict:
        """Observed metrics, with a fallback for degenerate waves: a
        provably-empty branch can be optimizer-folded to an empty
        LocalRelation, dropping the CollectMetrics row (seen at
        frontier exhaustion). The fallback aggregates the CACHED
        DataFrame — trivial work in exactly the case it triggers.
        The except is surfaced as a warning (advisor round-2: a
        GENUINE failure — misattached observation, JVM error — must
        not be silently absorbed into a recomputation); the intended
        folded-empty-plan trigger yields all-zero fallback metrics,
        so any non-degenerate warning in logs is a real bug signal."""
        obs, source, aggs = self.observed[name]
        try:
            return obs.get
        except Exception as e:
            warnings.warn(
                f"observation {getattr(obs, '_name', '?')} unavailable "
                f"({type(e).__name__}: {str(e)[:120]}); recomputing from "
                "the cached DataFrame — expected only at frontier "
                "exhaustion (folded-empty plans drop CollectMetrics)")
            return source.agg(*aggs).collect()[0].asDict()

    def new_score_counts(self):
        """Per-score counts of the wave's new rows, read from the new
        observation (rides the seen-delta write)."""
        m = self.get("new")
        return [(self.new_score_base + r, int(m[f"c{r}"]))
                for r in range(7) if int(m[f"c{r}"])]

    def metrics(self) -> dict:
        """The wave's metrics row — valid only after the checkpoint
        writes ran (each observation rides on a write)."""
        fetch_m, links_m, new_m = (self.get(k)
                                   for k in ("fetch", "links", "new"))
        return {
            "wave": self.wave,
            "scheduled": int(fetch_m["n"]),
            "fetched": int(fetch_m["n"]),
            "denied": int(self.n_denied),
            "links_total": int(links_m["t"]),
            "links_distinct": int(links_m["d"]),
            "new_urls": int(new_m["n"]),
            "dupes": int(links_m["d"]) - int(new_m["n"]),
            "bytes": int(fetch_m["b"]),
            "pages_dropped": int(self.dropped.value),
            "redirects": int(fetch_m["r"]),
        }


def run_wave(spark: SparkSession, cfg: CrawlConfig, wave: int,
             manifest: dict, seen: DataFrame, pool,
             filters: SeenFilters, n_seen: int,
             prev_links: int | None) -> Wave:
    """Schedules one wave and builds its lazy commit chain; returns
    the Wave. ``pool`` (the crawl executor's thread pool) runs the stats
    job and the layout build while the rest of the chain is constructed.
    ``filters`` supplies the seen check's pre-filter; ``n_seen`` is
    the seen count, ``prev_links`` the previous wave's distinct links
    (None when none was observed).

    The wave never touches the whole frontier: ``manifest`` (see
    frontier/bands.py) describes the frontier as score-band files
    split into score-sorted RUNS, and the wave reads only the top
    segments whose counts cover wave_cap — a band larger than the cap
    is read as a PREFIX of its runs, never whole — extending
    deterministically when robots/politeness eat into the read set
    (rare: one extra stats pass per extension round). Scheduling sees
    exactly the frontier rows with ``score >= plan.s_cut`` (an exact
    score prefix — see bands.ReadPlan); consumed rows below the cut
    pass through to the residual untouched. The returned
    ``frontier_delta`` is the residual of the READ segments ∪ newly
    discovered rows; crawl() writes it band/run-partitioned and
    carries every unread segment forward by manifest reference — wave
    checkpoint write volume is O(rows_read + new), never O(|frontier|).

    Spark-job budget per wave — the crawl's FIXED cost, which is what
    bounds throughput once waves are large enough to saturate cores:

    * ONE aggregation job over the ranked read set (score histogram
      for the distributed top-W *and* the denied count, same pass);
    * the checkpoint writes of the crawl's commit stages — every
      remaining metric (scheduled, bytes, links, new urls) rides on
      those writes via ``observe()``: zero additional actions.

    ``Wave.metrics()`` must be called AFTER the checkpoint writes ran;
    it reads the observations and returns the metrics row.
    """
    robots_version = (wave // cfg.robots_ttl_waves
                      if cfg.robots_ttl_waves else 0)
    robots_txt_fn = cfg.extra.get("robots_txt_fn")
    if robots_txt_fn is not None:
        # production robots source: (host, robots_txt) bodies ->
        # RFC 9309 parse -> the broadcast rules dim; the spec path
        # below (same dim shape) stays the oracle-pinned default
        from .robots import parse_robots, rules_dim

        robots = rules_dim(
            parse_robots(robots_txt_fn(spark, robots_version,
                                       cfg.n_hosts)),
            agent=cfg.extra.get("robots_agent", "cuphicbot"))
    else:
        robots = robots_rules(spark, version=robots_version,
                              n_hosts=cfg.n_hosts)
    plan = bands_mod.plan_read(manifest, cfg.wave_cap)

    # ONE window ranks eligible rows per host; denied rows rank inside
    # their own (host, den) group so eligible ranks are unaffected —
    # this lets a single aggregation job return the score histogram
    # AND the denied count (previously two frontier scans). Per-host
    # ranks over the ELIGIBLE prefix (score >= plan.s_cut) equal
    # full-frontier ranks: every row outside the prefix scores
    # strictly below every prefix row.
    w_host = Window.partitionBy("host", "den").orderBy(
        F.desc("score"), F.asc("url"))
    w_score = Window.partitionBy("score").orderBy(F.asc("url"))
    # cumulative offset of each score group = rows in strictly higher
    # score groups (see the top-W comment below); partitioned by the
    # stats agg's other key, so the den=false offsets are exactly the
    # unpartitioned ones without a single-partition window
    w_off = (Window.partitionBy("den").orderBy(F.desc("score"))
             .rowsBetween(Window.unboundedPreceding, -1))
    import uuid
    frontier = ranked = None
    frontier_caches: list[DataFrame] = []  # all rounds' caches; the
    # earlier rounds stay alive inside the union lineage and are
    # unpersisted with the wave's other caches
    read_paths: list[str] = []
    while True:
        # plan_read is monotone (the extension's read set is a strict
        # superset), so an extension round reads ONLY the added
        # segment files and unions them with the already-cached rows
        # (round 8) — previously every round re-read and re-decoded
        # every consumed segment from parquet. Row set identical:
        # segment paths are disjoint, and nothing downstream depends
        # on row order (ranks sort explicitly).
        new_paths = [p for p in plan.paths() if p not in set(read_paths)]
        read_paths += new_paths
        if frontier is None:
            frontier = bands_mod.read_plan_df(spark, manifest,
                                              plan).cache()
        else:
            frontier = frontier.unionByName(
                bands_mod._read_paths(spark, new_paths)).cache()
        frontier_caches.append(frontier)
        eligible_src = frontier.where(F.col("score") >= plan.s_cut)
        fr = eligible_src.withColumn(
            "path", _memo_cols("path_url",
                               lambda: path_col(F.col("url"))))
        joined = fr.join(F.broadcast(robots), "host", "left")
        den = _memo_cols("den", lambda: denied_by_rules(
            F.col("path"), F.col("robots_rules")))
        ranked = (joined.withColumn("den", den)
                  .withColumn("host_rank", F.row_number().over(w_host))
                  .drop("robots_rules", "path")).cache()
        # CACHED: the stats collect below materializes this tiny agg
        # (<= max_score_histogram rows), and the in-plan offsets then
        # read the cached rows instead of re-aggregating the 10^5-row
        # ranked cache inside the seen-delta write's broadcast build —
        # which sat on the wave's critical path (round 8, ~0.2-0.3 s)
        stats_q = (ranked
                   .where(F.col("den")
                          | (F.col("host_rank") <= cfg.budget_per_host))
                   .groupBy("den", "score").agg(F.count("*").alias("cnt"))
                   .cache())
        # The stats job runs on the POOL while the wave's entire lazy
        # chain is constructed below (round 8): plan construction is
        # ~0.9 s/wave of pure driver work (py4j round trips + JVM
        # analysis) that previously serialized behind this collect —
        # the in-plan rank offsets below are what free construction
        # from the collected values. The collected stats are joined
        # at the bottom of the loop, where the extension decision (and
        # the coarse-score guard) needs them; on the rare extension
        # round the optimistically built chain is discarded unrun
        # (fresh Observations/accumulator per iteration, caches
        # unpersisted) and rebuilt over the extended read set.
        f_stats = pool.submit(stats_q.collect)

        # consumed rows BELOW the cut: physically read (their runs
        # span the cut) but semantically unread — pass through to the
        # residual delta verbatim, outside robots/politeness/scheduling
        passthrough = frontier.where(F.col("score") < plan.s_cut)
        budgeted = (ranked
                    .where(~F.col("den")
                           & (F.col("host_rank") <= cfg.budget_per_host))
                    .drop("den", "host_rank"))

        # Global top-W WITHOUT TakeOrdered (orderBy+limit would merge
        # W rows x partitions single-threaded on the driver — at
        # W=10^5+ that serializes the wave). Scores are coarse by
        # construction, so: per-score counts -> cumulative offsets
        # over the score groups in descending-score order -> per-score
        # windows ordered by url (distributed across score groups) ->
        # global rank = offset + in-group rank. Identical total order
        # (score desc, url asc), no driver merge. The offsets are
        # computed IN-PLAN (tiny agg + per-den window over
        # <= max_score_histogram rows + broadcast join) rather than
        # collected to the driver: a score group is rankable iff the
        # rows above it don't already cover the cap (off < cap),
        # exactly the driver loop's break condition, and keeping the
        # offsets out of the driver lets this whole chain be built
        # while the stats job runs.
        # the budgeted per-score counts ARE the stats agg's !den rows —
        # read them from the cached stats_q (warm once the stats job
        # ran) rather than re-aggregating the budgeted rows
        offs = (stats_q
                .withColumn("off",
                            F.coalesce(F.sum("cnt").over(w_off),
                                       F.lit(0)))
                .where(~F.col("den") & (F.col("off") < cfg.wave_cap))
                .select("score", "off"))
        with_rank = (budgeted
                     .join(F.broadcast(offs), "score", "left")
                     .withColumn(
                         "rank_in_wave",
                         F.when(F.col("off").isNotNull(),
                                F.col("off")
                                + F.row_number().over(w_score))
                         .cast("int"))
                     .select("url", "host", "depth", "score",
                             "discovered_wave", "rank_in_wave")
                     .cache())
        scheduled = with_rank.where(F.col("rank_in_wave") <= cfg.wave_cap)
        # leftover budgeted rows: re-derived from the SAME rank window
        # (cached) instead of an eligible-minus-fetched anti-join —
        # membership is identical by construction and two url-keyed
        # shuffles per wave disappear
        unscheduled = (with_rank
                       .where(F.col("rank_in_wave").isNull()
                              | (F.col("rank_in_wave") > cfg.wave_cap))
                       .drop("rank_in_wave"))

        # the global rank window collapses to one partition; fan back
        # out so fetch+parse of the wave runs partition-parallel (rank
        # is already assigned, so redistribution cannot change output)
        scheduled = scheduled.repartition(cfg.partitions, "url")

        # fetch carries scheduling columns through — fetch_log needs
        # no join; scheduled/bytes counts ride on the fetch_log write.
        # obs_fetch sits ABOVE the cache, on the fetch_log plan (not
        # on `fetched` itself): the fetch_log and seen-delta writes
        # run CONCURRENTLY and cooperate on materializing the fetch
        # cache (block locks make each partition compute exactly
        # once), so a below-cache CollectMetrics would split its
        # counts across the two racing executions — above the cache,
        # every fetch_log row streams through the observe exactly
        # once, in the one execution that owns it.
        tag = uuid.uuid4().hex[:8]  # observation names unique per run
        obs_fetch = Observation(f"fetch_w{wave}_{tag}")
        dropped_acc = spark.sparkContext.accumulator(0)
        fetched = (_fetch_extract(scheduled, cfg.universe,
                                  cfg.page_weight,
                                  dropped_acc=dropped_acc,
                                  n_hosts=cfg.n_hosts,
                                  fetch_fn=cfg.extra.get("fetch_fn"),
                                  redirect_mod=cfg.redirect_mod)
                   .cache())

        links = fetched.select(F.col("url").alias("base_url"),
                               F.explode("hrefs").alias("href"))
        canon = links.select(_memo_cols(
            "canon",
            lambda: canonicalize_cols(F.col("href"),
                                      F.col("base_url")).alias("url")))
        obs_links = Observation(f"links_w{wave}_{tag}")
        links_aggs = _memo_cols("links_aggs", lambda: [
            F.count(F.lit(1)).alias("d"),
            F.coalesce(F.sum("n_refs"), F.lit(0)).alias("t")])
        distinct_links = (canon.groupBy("url")
                          .agg(F.count("*").alias("n_refs"))
                          .observe(obs_links, *links_aggs)
                          .cache())

        # the broadcast strategy forces F.broadcast(candidates): its
        # correctness is unconditional but its MEMORY is bounded only by
        # the candidate set, so it is admissible only while the previous
        # wave's distinct-link volume (the best available predictor of
        # this wave's candidates) is under the configured ceiling
        # (advisor round-2 finding). The router broadcasts only on that
        # AFFIRMATIVE volume prediction: a MISSING hint (wave 0, or a
        # resume without lineage metrics) must route conservatively — a
        # first wave at production scale has unbounded candidates, and
        # broadcasting them both risks driver memory (the cap exists for
        # exactly this) and races spark.sql.broadcastTimeout, because
        # the broadcast side's lineage embeds the whole fetch+parse chain
        # (measured: the 4M-wave bootstrap blew the 300 s default on 8
        # cores — BENCH/crawl_steady_r7.json note)
        seen_strategy = (
            "broadcast" if (n_seen >= cfg.broadcast_seen_min
                            and prev_links is not None
                            and prev_links <= cfg.broadcast_max_candidates)
            else "shuffle")
        # ONE pre-filter (cuckoo shards or bloom, SeenFilters.prefilter)
        # lets definitely-new candidates skip the exact anti-join
        prefilter, cuckoo_probed = filters.prefilter(n_seen, prev_links)
        new_urls = filter_new_urls(distinct_links, seen, prefilter,
                                   seen_strategy)
        # no frontier anti-join needed: every frontier url is already in
        # seen (seeds via seen_seed, discoveries via their wave's delta),
        # so surviving the seen anti-join implies not-pending either —
        # one less shuffle per wave

        obs_new = Observation(f"new_w{wave}_{tag}")
        # A wave's new rows take exactly 7 scores (base + id%7 at the
        # fixed depth wave+1, see score_expr), so their per-score
        # counts — the new-row half of the frontier write's run map —
        # ride obs_new as 7 conditional sums on the seen-delta write
        # instead of costing a separate post-commit job (round 8).
        new_score_base = 10000 - 1000 * min(wave + 1, 9)
        # memo keys carry every input the trees bake in: the wave's
        # literals
        new_aggs = _memo_cols(("new_aggs", wave), lambda: [
            F.count(F.lit(1)).alias("n")] + [
            F.coalesce(F.sum((F.col("score") == F.lit(new_score_base + r))
                             .cast("long")), F.lit(0)).alias(f"c{r}")
            for r in range(7)])
        new_row_cols = _memo_cols(
            ("new_row_cols", wave),
            lambda: [
                F.col("url"),
                host_col(F.col("url")).alias("host"),
                F.lit(wave + 1).alias("depth"),
                score_expr(F.regexp_extract("url", r"(\d+)$", 1)
                           .cast("long"),
                           F.lit(wave + 1), False).alias("score"),
                F.lit(wave + 1).alias("discovered_wave")])
        new_rows = (new_urls.select(*new_row_cols)
                    .observe(obs_new, *new_aggs)
                    .cache())

        cols = ["url", "host", "depth", "score", "discovered_wave"]
        over_budget = (ranked
                       .where(~F.col("den")
                              & (F.col("host_rank") > cfg.budget_per_host))
                       .select(*cols))
        # the wave's frontier DELTA: residual of the consumed segments
        # (over-budget ∪ unscheduled ∪ below-cut passthrough — denied
        # rows drop here, at first eligible read of their segment) plus
        # new discoveries; unread segments never appear — crawl() carries
        # them forward by manifest reference
        frontier_delta = (over_budget
                          .unionByName(unscheduled.select(*cols))
                          .unionByName(passthrough.select(*cols))
                          .unionByName(new_rows))
        # every frontier url is already in seen (added at discovery), so
        # denied rows need no re-insert; seen grows only by new discoveries
        # -> the wave emits a DELTA, never a rewritten snapshot (rewriting
        # a 10^10-row seen table every wave is the scale killer)
        seen_delta = new_rows.select("url",
                                     F.lit(wave + 1).alias("added_wave"))
        # write-ready layouts built NOW, inside the overlapped
        # construction window (round 8): every transformation over
        # these deep trees re-analyzes the whole tree eagerly, which
        # previously happened at write time — seen-delta layout ahead
        # of the wave's longest job, frontier layout on the wave
        # tail's critical path. The writers consume these as-is. The
        # builds run on the POOL (a second py4j connection): they are
        # leaf branches nothing else below depends on, so they overlap
        # both the stats job and the rest of this construction;
        # resolved after the stats join, before run_wave returns.
        def _build_layouts():
            seen_out = _partition_layout(
                seen_delta.withColumn("host", host_col(F.col("url")))
                .select("url", "added_wave", "host"), cfg)
            prepped = bands_mod._prep_delta(frontier_delta, cfg)
            # the run map's residual branches (see delta_counts below);
            # the zero-job driver half derives from the collected stats
            early = (over_budget.select("score")
                     .unionByName(passthrough.select("score")))
            return seen_out, prepped, early

        f_layouts = pool.submit(_build_layouts)

        fetch_aggs = _memo_cols("fetch_aggs", lambda: [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("bytes"), F.lit(0)).alias("b"),
            F.coalesce(F.sum(((F.col("status") >= 300)
                              & (F.col("status") < 400))
                             .cast("long")), F.lit(0)).alias("r")])
        fetch_log = (fetched.select(
            F.lit(wave).alias("wave"), "rank_in_wave", "url",
            "host", "depth", "score", "status", "bytes")
            .observe(obs_fetch, *fetch_aggs))
        # ---- join the stats job: the extension decision (and the
        # coarse-score guard) needs the collected histogram; under no
        # extension the chain built above is the wave's final plan ----
        stats = f_stats.result()
        if len(stats) > cfg.max_score_histogram:
            raise ValueError(
                f"score histogram has {len(stats)} distinct (den, score) "
                f"rows > max_score_histogram={cfg.max_score_histogram}: "
                "score_expr must produce COARSE scores (the distributed "
                "top-W collects one row per distinct score — a fine-"
                "grained score would silently turn this into an "
                "O(|frontier|) driver transfer). Coarsen score_expr or "
                "raise cfg.max_score_histogram deliberately.")
        n_budgeted = sum(r.cnt for r in stats if not r.den)
        if n_budgeted >= cfg.wave_cap or plan.exhausted:
            (seen_delta_out, frontier_delta_prepped,
             early_counts_df) = f_layouts.result()
            break
        # deterministic extension: re-plan with a larger coverage
        # target (plan_read is monotone in need — the new read set is
        # a superset, so the rebuild only ever adds rows). The
        # provisional chain above never ran (everything below the
        # ranked cache is lazy; its Observations and accumulator die
        # with it) — drop its cache registrations and rebuild over
        # the extended read set.
        # the provisional layouts are discarded too: cancel their build
        # if it has not started, else wait it out (its closure reads
        # this iteration's variables, which the re-plan rebinds) and
        # surface a failure instead of dropping it with the future
        if not f_layouts.cancel():
            exc = f_layouts.exception()
            if exc is not None:
                warnings.warn(
                    f"wave {wave}: discarded layout build failed "
                    f"({type(exc).__name__}: {str(exc)[:120]}); the "
                    "extension round rebuilds it")
        for c in (ranked, stats_q, with_rank, fetched, distinct_links,
                  new_rows):
            c.unpersist()
        plan = bands_mod.plan_read(
            manifest, plan.rows_read + (cfg.wave_cap - n_budgeted))
    n_denied = sum(r.cnt for r in stats if r.den)
    # driver copy of the cumulative offsets — IDENTICAL math to the
    # in-plan offs above (same histogram source, same off < cap cut);
    # it feeds only the frontier run map's zero-job unscheduled counts
    # (delta_counts["driver"] below), never the rank computation.
    hist = sorted(((r.score, r.cnt) for r in stats if not r.den),
                  key=lambda x: -x[0])
    offsets = {}
    cum = 0
    for s, c in hist:
        if cum >= cfg.wave_cap:
            break
        offsets[s] = cum
        cum += c

    caches = [*frontier_caches, ranked, stats_q, fetched,
              distinct_links, new_rows, with_rank]
    # Per-score counts of the delta's four branches, split by HOW
    # they are knowable (round 8): "early" (over-budget ∪ passthrough)
    # reads only the schedule-phase caches (ranked/frontier — warm
    # once the stats job ran) and is counted on the pool WHILE the
    # seen-delta write runs; the new rows' counts ride that write's
    # observation (Wave.new_score_counts); the unscheduled branch
    # needs NO job at all — its counts derive exactly from the stats
    # histogram and the rank offsets: per budgeted score s with count
    # c, the wave schedules max(0, min(c, cap - offset_s)) rows
    # (ranks offset_s+1..offset_s+c, kept iff <= cap; scores outside
    # the offset map schedule none). The frontier write's run map
    # then needs no counts pass over the full delta chain
    # (write_wave_frontier score_counts).
    unsched_counts: dict[int, int] = {}
    for s, c in hist:
        off = offsets.get(s)
        sched = 0 if off is None else max(0, min(c, cfg.wave_cap - off))
        if c - sched:
            unsched_counts[s] = c - sched
    delta_counts = {"early": early_counts_df, "driver": unsched_counts}
    return Wave(
        wave=wave, plan=plan, frontier_delta=frontier_delta_prepped,
        seen_delta=seen_delta, seen_delta_out=seen_delta_out,
        fetch_log=fetch_log, delta_counts=delta_counts, caches=caches,
        seen_strategy=seen_strategy, cuckoo_probed=cuckoo_probed,
        n_denied=n_denied, dropped=dropped_acc,
        observed={"fetch": (obs_fetch, fetched, fetch_aggs),
                  "links": (obs_links, distinct_links, links_aggs),
                  "new": (obs_new, new_rows, new_aggs)},
        new_score_base=new_score_base)


def _wave_dir(cfg: CrawlConfig, wave: int) -> str:
    return os.path.join(cfg.checkpoint_dir, f"wave={wave:05d}")


def _seed_score_counts(cfg: CrawlConfig) -> list[tuple[int, int]]:
    """Per-score counts of seed_frontier(cfg) in closed form: seed
    scores are score_py(id, 0, True) = 15000 + id % 7 over ids
    0..n_seeds-1, so residue r contributes ceil((n_seeds - r) / 7)
    rows. Differentially pinned against the Spark histogram
    (tests/test_frontier.py) — lets the seed frontier write skip its
    run-map aggregation job, the bootstrap's most expensive action."""
    counts: dict[int, int] = {}
    for r in range(min(7, cfg.n_seeds)):
        counts[score_py(r, 0, True)] = (cfg.n_seeds - r + 6) // 7
    return sorted(counts.items())


def _partition_layout(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """The host-partitioned, sorted physical layout every seen write
    uses (see _partitioned_write) as a pure TRANSFORMATION — factored
    out (round 8) so the crawl wave can build it inside its overlapped
    plan-construction window: each transformation over the wave's
    deep delta tree pays a full eager re-analysis, which used to land
    at write time on the wave tail's critical path."""
    part = F.pmod(F.xxhash64("host"), F.lit(cfg.partitions)).cast("int")
    # seen writes sort by (part, url): a deterministic within-file
    # order, so a seen delta's bytes do not depend on task scheduling,
    # with each file's row groups clustered by partition
    return (df.withColumn("part", part)
            .repartition(cfg.partitions, "part")
            .sortWithinPartitions(F.asc("part"), F.asc("url")))


def _partitioned_write(df: DataFrame, path: str, cfg: CrawlConfig):
    """Seen snapshots/deltas (frontier writes go through
    bands.write_wave_frontier, which applies the same host partitioning
    INSIDE each score band, host-salted and score-sorted — the
    'priority queue as host-salted, score-sorted partitions' of the
    north rule): partitioned by pmod(xxhash64(host),P).

    `part` stays a data column (flat layout) — required for the seen
    DELTA dirs, which are read as a multi-root union (partition-
    directory inference would see conflicting structures across
    roots)."""
    _partition_layout(df, cfg).write.mode("overwrite").parquet(path)


def last_complete_wave(cfg: CrawlConfig) -> int:
    """Last wave of the contiguous committed prefix — waves 0..w all
    carry a lineage marker — or -1. A marked wave above a gap builds
    on a wave that never committed, so it does not count."""
    w = -1
    while os.path.exists(os.path.join(_wave_dir(cfg, w + 1),
                                      "_lineage.json")):
        w += 1
    return w


def _drop_waves_above(cfg: CrawlConfig, wave: int) -> int:
    """Delete every ``wave=`` dir above ``wave`` (gaps included);
    returns how many were removed."""
    if not os.path.isdir(cfg.checkpoint_dir):
        return 0
    import shutil

    doomed = [name for name in os.listdir(cfg.checkpoint_dir)
              if name.startswith("wave=") and name[5:].isdigit()
              and int(name[5:]) > wave]
    for name in doomed:
        shutil.rmtree(os.path.join(cfg.checkpoint_dir, name))
    return len(doomed)


def _seen_delta_paths(cfg: CrawlConfig, upto_wave: int,
                      use_compact: bool = True) -> list[str]:
    """Seed delta + per-wave discovery deltas — the seen table is the
    UNION of immutable delta snapshots (append-only; a snapshot
    rewrite per wave would be O(|seen|) and unsustainable at 10^10).
    When a compacted snapshot exists (snapshots.compact_seen — the
    offline maintenance job), reads use it as the base and union only
    the deltas past its horizon, keeping the root count bounded."""
    paths, first = [os.path.join(cfg.checkpoint_dir, "seen_seed")], 0
    if use_compact:
        from .snapshots import read_compact_marker

        marker = read_compact_marker(cfg)
        if (marker is not None and marker["upto_wave"] <= upto_wave
                and os.path.isdir(marker["path"])):
            paths, first = [marker["path"]], marker["upto_wave"] + 1
    for w in range(first, upto_wave + 1):
        p = os.path.join(_wave_dir(cfg, w), "seen_delta")
        if os.path.isdir(p):
            paths.append(p)
    return paths


def _read_seen(spark: SparkSession, cfg: CrawlConfig,
               upto_wave: int) -> DataFrame:
    # explicit (pruned) schema: every seen root carries url+added_wave
    # (SEEN_SCHEMA), so handing the reader the projection up front
    # skips the per-wave driver-side footer/schema inference — the
    # multi-root union is re-created after every wave
    return (spark.read.schema(SEEN_SCHEMA)
            .parquet(*_seen_delta_paths(cfg, upto_wave)))


#: Session confs the crawl sets for its duration, restored on exit.
#: Each changes only the plan shape (Spark-job count, join algorithm),
#: never any output: the determinism contract holds at any plan.
_SESSION_CONFS = (
    # AQE off: the crawl pre-partitions and host-salts explicitly, so
    # AQE's runtime re-planning buys nothing inside a wave while its
    # per-stage materialization barriers cost ~15 extra Spark jobs per
    # wave (measured: 25 jobs/wave AQE-on vs 10 off; steady-wave 8->32
    # speedup 1.94x vs 2.12x — BENCH/crawl_steady_r5.json
    # aqe_off_experiment)
    ("spark.sql.adaptive.enabled", "false"),
    # the seen-check broadcast side's lineage embeds the wave's whole
    # fetch+parse chain — its BUILD time grows with wave_cap, so the
    # 300 s Spark default is a latent production failure (measured: a
    # 4M-url bootstrap wave on 8 cores exceeded it). The router
    # additionally never broadcasts without an affirmative volume
    # hint; this timeout covers the legitimately-broadcast waves.
    ("spark.sql.broadcastTimeout", "3600"),
    # the run-map / probe collects are `limit(N).collect()` with a
    # TINY true row count (coarse-score contract); the default
    # incremental take (1, 4, 16, ... parts) turns each into 3-5
    # sequential mini-jobs of pure scheduling latency per wave — one
    # job over all partitions is strictly better here at ANY scale,
    # because the bound is on the row count, not the partition count.
    ("spark.sql.limit.initialNumPartitions", str(1 << 20)),
    # lets the planner use shuffled-hash for the seen anti-join (guide
    # §3.1) — skips sorting both sides; Spark's own build-side size
    # conditions still gate it, so oversized partitions fall back to
    # sort-merge.
    ("spark.sql.join.preferSortMergeJoin", "false"),
)


@dataclass
class _Crawl:
    """What every stage ``fn(ctx, wave, got)`` of a crawl() reads."""
    spark: SparkSession
    cfg: CrawlConfig
    filters: SeenFilters
    pool: object                  # run_wave's helper tasks


def _seed_seen(ctx, wave, got):
    """Bootstrap: the seed seen delta (the seen table's first root)."""
    seeds = seed_frontier(ctx.spark, ctx.cfg)
    _partitioned_write(
        seeds.select("url", F.lit(0).alias("added_wave"), F.col("host")),
        os.path.join(ctx.cfg.checkpoint_dir, "seen_seed"), ctx.cfg)
    return ctx.cfg.n_seeds, None


def _seed_manifest(ctx, wave, got):
    """Bootstrap: seed frontier = the wave -1 manifest (band-
    partitioned like every later wave; nothing was read, so nothing
    is carried)."""
    d = os.path.join(ctx.cfg.checkpoint_dir, "frontier_seed")
    manifest, _ = bands_mod.write_wave_frontier(
        ctx.spark, seed_frontier(ctx.spark, ctx.cfg), d, ctx.cfg,
        bands_mod.empty_manifest(ctx.cfg), consumed=[],
        score_counts=_seed_score_counts(ctx.cfg))
    bands_mod.write_manifest(d, manifest)
    return manifest


def _activate(ctx, wave, got):
    """Wave-boundary bloom activation or ×8 rebuild
    (SeenFilters.activate) over the committed seen set, which it
    returns for ``schedule``."""
    seen = _read_seen(ctx.spark, ctx.cfg, wave - 1)
    ctx.filters.activate(seen, got["seen_delta@-1"][0])
    return seen


def _schedule(ctx, wave, got):
    return run_wave(ctx.spark, ctx.cfg, wave, got["manifest@-1"],
                    got["activate"], ctx.pool, ctx.filters,
                    *got["seen_delta@-1"])  # n_seen, prev_links


def _early_counts(ctx, wave, got):
    """The residual half of the frontier delta's score histogram reads
    only schedule-phase caches, so its collect overlaps the seen-delta
    write; the other half (unscheduled/new) costs no job and is merged
    in ``_frontier`` (see run_wave delta_counts)."""
    return bands_mod._score_counts(got["schedule"].delta_counts["early"])


def _seen_delta(ctx, wave, got):
    """The checkpoint writes ARE the wave's remaining Spark jobs;
    per-wave metrics ride on them via observe(). PIPELINED: the
    seen-delta write runs FIRST and alone — it owns the fetch+link
    chain and materializes the fetch cache with every task slot doing
    real work — then the fetch_log write (a pure cache read + parquet
    encode) launches with the frontier/cuckoo/bloom writes and drains
    into the next wave's schedule phase. The round-7 shape raced
    fetch_log and seen-delta on the shared fetch cache: block locks
    made each partition compute once, but the losing job's 32 tasks
    sat BLOCKED on those locks while HOLDING task slots (REST
    profile: fetch_log stage run 31.5 core-s, cpu 2.9 core-s per
    wave) — half the cluster waiting on the other half.
    Launch-after-commit keeps the overlap (fetch_log serialization
    shares the cluster with the frontier write + next wave's
    planning) without the blocked-slot tax.

    Returns the post-wave seen count and the wave's distinct links:
    obs_new/obs_links rode this write, so the filter maintenance and
    the next wave read them without waiting on the fetch_log
    write's observation."""
    w = got["schedule"]
    # layout prebuilt by run_wave (w.seen_delta_out) inside the
    # overlapped construction window — only the write command itself
    # is planned here
    w.seen_delta_out.write.mode("overwrite").parquet(
        os.path.join(_wave_dir(ctx.cfg, wave), "seen_delta"))
    return (got["seen_delta@-1"][0] + int(w.get("new")["n"]),
            int(w.get("links")["d"]))


def _fetch_log(ctx, wave, got):
    got["schedule"].fetch_log.write.mode("overwrite").parquet(
        os.path.join(_wave_dir(ctx.cfg, wave), "fetch_log"))


def _frontier(ctx, wave, got):
    """The frontier delta's band write; returns (manifest,
    rows_written). Merges the overlapped residual counts, the
    driver-derived unscheduled counts and the new-row counts
    (observed on the seen-delta write), so the write skips its counts
    pass."""
    w = got["schedule"]
    merged: dict[int, int] = dict(w.delta_counts["driver"])
    for s, c in w.new_score_counts() + got["early_counts"]:
        merged[s] = merged.get(s, 0) + c
    return bands_mod.write_wave_frontier(
        ctx.spark, w.frontier_delta,
        os.path.join(_wave_dir(ctx.cfg, wave), "frontier"), ctx.cfg,
        got["manifest@-1"], w.plan, score_counts=sorted(merged.items()),
        prepped=True)


def _bloom(ctx, wave, got):
    """Bloom maintenance folds the committed delta's cache into the
    bitmap, overlapping the fetch_log/frontier writes — round 8: the
    previous shape rode the seen-delta write itself via a mapInPandas
    accumulator, which put a full Arrow->pandas->Arrow transpose of
    every delta column on the wave's LONGEST job for work that only
    needs the url hashes; bloom_merge_urls over the cached new_rows
    produces the identical bitmap (same xxhash64 -> _bit_indices) off
    the critical path. Returns the wave's bloom_* metrics."""
    return ctx.filters.maintain_bloom(got["schedule"].seen_delta.select("url"),
                                     _wave_dir(ctx.cfg, wave))


def _cuckoo(ctx, wave, got):
    ctx.filters.maintain_cuckoo(
        got["schedule"].seen_delta.select("url"),
        _read_seen(ctx.spark, ctx.cfg, wave), _wave_dir(ctx.cfg, wave),
        *got["seen_delta"])  # n_seen, links


def _manifest(ctx, wave, got):
    """Commit the frontier manifest once the frontier, bloom and
    cuckoo writes are all done: the point where the next wave can
    start, so its mtime anchors the wave's phase timings (perfbench)."""
    manifest = got["frontier"][0]
    bands_mod.write_manifest(
        os.path.join(_wave_dir(ctx.cfg, wave), "frontier"), manifest)
    return manifest


def _finalize(ctx, wave, got):
    """Assemble the wave's metrics + lineage, commit the lineage
    marker, release the wave's caches; returns the metrics row.

    WAVE OVERLAP (round-5 verdict item 1): nothing downstream of a
    wave depends on its fetch_log parquet except the metrics that
    ride it, so this tail waits only on the fetch_log write and the
    manifest — it runs while the NEXT wave's schedule phase
    (frontier read + ranking + stats job) runs, and the fetch_log
    serialization drain and the next wave's planning jobs share the
    cluster instead of serializing. Ordering safety: the next wave's
    seen-delta write needs this stage, so the lineage marker is
    always written BEFORE the next wave's own writes launch — wave
    directories + lineage commit strictly in wave order and
    last_complete_wave stays contiguous (a crash mid-overlap re-runs
    the unfinalized wave deterministically). Metric VALUES are
    unaffected by the deferral — observations accumulate on their
    writes no matter when .get is read; the oracle pins them
    exactly."""
    w, cfg = got["schedule"], ctx.cfg
    d = _wave_dir(cfg, wave)
    # manifest bookkeeping (footer counts recorded at write time): no
    # Spark job, no observation, no exhaustion edge case
    metrics = {**w.metrics(), "frontier_rows_read": w.plan.rows_read,
               **got["bloom"], "frontier_rows_written": got["frontier"][1],
               "frontier_size": bands_mod.manifest_total(got["manifest"])}
    lineage = {
        "wave": wave,
        "input_wave_dir": _wave_dir(cfg, wave - 1) if wave else "seeds",
        "partitions": cfg.partitions,
        "seen_deltas": _seen_delta_paths(cfg, wave),
        "frontier_manifest": bands_mod.manifest_path(
            os.path.join(d, "frontier")),
        "frontier_bands_read": w.plan.read_bands,
        "frontier_segments_read": sorted(w.plan.consumed_keys()),
        "frontier_score_cut": w.plan.s_cut,
        "seen_strategy": w.seen_strategy,
        "cuckoo_probe": w.cuckoo_probed,
        "config": {**{k: getattr(cfg, k) for k in (
            "universe", "n_seeds", "budget_per_host", "wave_cap",
            "band_width")}, "band_split_rows": bands_mod.split_rows_of(cfg)},
        "metrics": metrics,
    }
    bands_mod.write_json_atomic(os.path.join(d, "_lineage.json"), lineage)
    for c in w.caches:
        c.unpersist()
    return metrics


#: The bootstrap as wave -1: its seen delta and manifest feed wave 0
#: like any wave's. The two seed writes are independent (separate
#: dirs, and the seeds chain is a cheap range->concat built by each),
#: so seen_seed runs on the pool while the frontier seed's histogram +
#: band write run on the main thread — the crawl's fixed bootstrap
#: cost was two sequential writes (round-8 driver profile: ~2.5 s of
#: the bench leg).
SEED_STAGES = (Stage("seen_delta", _seed_seen),
               Stage("manifest", _seed_manifest, main=True))

#: One wave. The main thread activates the bloom and schedules; the
#: seen-delta write waits for the previous wave's finalize, so lineage
#: commits in wave order; the next wave starts once the manifest is
#: written, while this wave's fetch_log write and finalize overlap it.
STAGES = (
    Stage("activate", _activate, ("seen_delta@-1", "manifest@-1"), True),
    Stage("schedule", _schedule,
          ("activate", "seen_delta@-1", "manifest@-1"), main=True),
    Stage("early_counts", _early_counts, ("schedule",)),
    Stage("seen_delta", _seen_delta,
          ("schedule", "seen_delta@-1", "finalize@-1")),
    Stage("fetch_log", _fetch_log, ("schedule", "seen_delta")),
    Stage("frontier", _frontier,
          ("schedule", "seen_delta", "early_counts", "manifest@-1")),
    Stage("bloom", _bloom, ("schedule", "seen_delta", "activate")),
    Stage("cuckoo", _cuckoo, ("schedule", "seen_delta")),
    Stage("manifest", _manifest, ("frontier", "bloom", "cuckoo")),
    Stage("finalize", _finalize,
          ("schedule", "fetch_log", "frontier", "bloom", "manifest")),
)


def _timings(spans: dict, wave: int) -> dict:
    """One ``summary["timings"]`` row from the executor's spans. The
    legacy keys are consecutive intervals ending at the manifest write
    (perfbench anchors a wave on the manifest's mtime):
    the bloom activation, the schedule phase, the wait for the previous
    wave's finalize and the commit up to the manifest;
    ``fetch_log_drain`` is how long past the manifest the wave's
    finalize waited for its writes. ``stages`` maps every stage to its
    [start, end] as offsets from the wave start."""
    s = {n: ab for (w, n), ab in spans.items() if w == wave}
    t0, t_man = s["activate"][0], s["manifest"][1]
    legacy = {"bloom_build": s["activate"][1] - t0,
              "schedule": s["schedule"][1] - s["activate"][1],
              "prev_wave_drain": s["seen_delta"][0] - s["schedule"][1],
              "seen_frontier_cuckoo": t_man - s["seen_delta"][0],
              "fetch_log_drain": s["finalize"][0] - t_man}
    return {"wave": wave, **{k: round(v, 3) for k, v in legacy.items()},
            "stages": {n: [round(a - t0, 3), round(b - t0, 3)]
                       for n, (a, b) in s.items()}}


def crawl(spark: SparkSession, cfg: CrawlConfig) -> dict:
    """Run (or resume) the crawl up to cfg.n_waves. Returns summary.

    Sets the crawl-session confs (_SESSION_CONFS) around the wave loop
    and restores the caller's values on exit — they change the Spark-
    job count per wave, never any output."""
    prior = {key: spark.conf.get(key, None) for key, _ in _SESSION_CONFS}
    for key, val in _SESSION_CONFS:
        spark.conf.set(key, val)
    try:
        return _crawl_loop(spark, cfg)
    finally:
        for key, val in prior.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def _crawl_loop(spark: SparkSession, cfg: CrawlConfig) -> dict:
    start = last_complete_wave(cfg) + 1
    # waves past the committed prefix (a torn wave, waves above a gap)
    # are replayed: drop them first, so a stale lineage marker cannot
    # count as committed once the replay fills the gap below it
    _drop_waves_above(cfg, start - 1)
    prev, prev_lineage = None, {}
    if start > 0:
        prev = _wave_dir(cfg, start - 1)
        with open(os.path.join(prev, "_lineage.json")) as fh:
            prev_lineage = json.load(fh)
        manifest = bands_mod.load_manifest(os.path.join(prev, "frontier"))
        # cuckoo shards bake the partition id they were built for;
        # resuming with a different cfg.partitions would silently
        # probe candidates against the wrong shard (false negatives
        # through the definitely-new bypass), and the read protocol
        # (and its oracle) is a function of the band and run layout —
        # refuse loudly, naming the recorded value to resume with
        split = bands_mod.split_rows_of(cfg)
        for key, was, now in (
                ("partitions", prev_lineage.get("partitions"),
                 cfg.partitions),
                ("band_width", manifest["band_width"], cfg.band_width),
                ("band_split_rows", manifest.get("band_split_rows", split),
                 split)):
            if was != now:
                raise ValueError(
                    f"resume {key} mismatch: checkpoint {prev} was "
                    f"written with {key}={was} but cfg resolves to "
                    f"{now}; resume with the recorded value")

    pool = ThreadPoolExecutor(max_workers=5)  # 5: early_counts and the
    # fetch_log/frontier/bloom/cuckoo stages can all be in flight;
    # run_wave's helper tasks queue behind them, which only delays work
    ex = Executor(spark, _Crawl(spark, cfg, SeenFilters.load(
        spark, cfg, prev, prev_lineage.get("metrics", {})), pool), pool,
        keep=("finalize",))  # the metrics rows the summary returns
    ex.done[(start - 1, "finalize")] = None  # nothing before it to wait on
    try:
        if start == 0:
            ex.run(-1, SEED_STAGES)
        else:
            # the resumed wave's inputs, as its predecessor left them
            # (the seen count is a parquet footer count — cheap)
            ex.done.update({
                (start - 1, "seen_delta"): (
                    _read_seen(spark, cfg, start - 1).count(),
                    prev_lineage.get("metrics", {}).get("links_distinct")),
                (start - 1, "manifest"): manifest})
        for wave in range(start, cfg.n_waves):
            ex.run(wave, STAGES)
            if cfg.compact_every and (wave + 1) % cfg.compact_every == 0:
                # compaction must see a fully-committed wave (and resume
                # correctness must never find a compacted snapshot ahead
                # of the lineage markers), so a compacting wave gives up
                # its overlap and finalizes in place; the next wave's
                # seen read re-roots on the compact
                ex.join()
                from .snapshots import compact_seen

                compact_seen(spark, cfg, upto_wave=wave)
        ex.join()
    finally:
        ex.close()
    waves = range(start, cfg.n_waves)
    return {"start_wave": start,
            "metrics": [ex.done[(w, "finalize")] for w in waves],
            "timings": [_timings(ex.spans, w) for w in waves],
            "checkpoint_dir": cfg.checkpoint_dir}


def read_fetch_log(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """The fetch log of the committed waves 0..last_complete_wave —
    listed explicitly, with an explicit schema (like ``_read_seen``):
    a wave whose lineage never committed contributes no rows."""
    paths = [os.path.join(_wave_dir(cfg, w), "fetch_log")
             for w in range(last_complete_wave(cfg) + 1)]
    if not paths:
        return spark.createDataFrame([], FETCH_LOG_SCHEMA)
    return spark.read.schema(FETCH_LOG_SCHEMA).parquet(*paths)


def _main() -> None:
    """CLI: python -m cuphic_spark.frontier.crawl [options]"""
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(
        description="Run the deterministic crawl wave loop.")
    ap.add_argument("--universe", type=int, default=100_000)
    ap.add_argument("--seeds", type=int, default=64)
    ap.add_argument("--budget", type=int, default=8)
    ap.add_argument("--wave-cap", type=int, default=256)
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--checkpoint-dir", default="/tmp/cuphic_crawl_cli")
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--compact-every", type=int, default=0,
                    help="auto-compact seen deltas every N waves")
    args = ap.parse_args()

    spark = get_spark(app_name="cuphic-crawl", cores=args.cores)
    cfg = CrawlConfig(universe=args.universe, n_seeds=args.seeds,
                      budget_per_host=args.budget, wave_cap=args.wave_cap,
                      n_waves=args.waves,
                      checkpoint_dir=args.checkpoint_dir,
                      partitions=args.partitions,
                      compact_every=args.compact_every)
    summary = crawl(spark, cfg)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    _main()
