"""Link-graph analytics over the crawl corpus: exact fixed-point
PageRank, in-degree authority, and per-target anchor-text rollups.

A production crawler feeds its frontier priority from the link graph
it discovers (OPIC / PageRank-style authority), and a training-data
pipeline keeps per-target anchor text as a labeling signal — both are
first-class corpus operators here, not afterthoughts.

Design notes (100 TB scale):

* **PageRank in exact integer fixed-point.** Ranks are int64 scaled
  by ``scale`` (default 10^9); every update uses only integer
  addition, multiplication and floor division, all of which are
  associative/commutative over the summed terms — so the result is
  byte-identical at any partitioning, any core count, and in the
  DuckDB oracle (float PageRank is NOT: shuffle order changes the
  sum). Overflow headroom: total mass is n*scale, and the largest
  intermediate is ``damping_num * mass`` — with damping 85/100 the
  int64 budget holds to n*scale < 10^17, i.e. 10^8 nodes at the
  default scale (lower ``scale`` for bigger graphs; the docstring of
  :func:`pagerank` shows the bound).
* **One shuffle per iteration.** Each step is edges ⋈ ranks on src
  (co-partitioned: both sides are hash-partitioned by the join key;
  `outdeg` is pre-joined once outside the loop) followed by a
  groupBy(dst) partial-aggregated sum. The dangling-mass total is a
  1-row aggregate crossJoin-broadcast back — no driver collect in
  the loop.
* **Bounded lineage.** Each iteration ``localCheckpoint``s the new
  ranks (eager) and unpersists the previous iteration's blocks —
  iterative DataFrame loops otherwise rebuild the whole chain per
  action and leak storage.
* Dangling mass (pages with no outlinks) is redistributed uniformly
  (``dangling_total // n`` each), the standard correction, done in
  integer floor division so both engines agree exactly.

Semantics (shared with the oracle SQL, see tests/gate):

  r0(i)    = scale
  share(j) = r(j) div outdeg(j)
  r'(i)    = (15*scale) div 100
             + (85 * (sum_{j->i} share(j) + dangling div n)) div 100

Reference parity: the reference (kuhumcst/cuphic) has no link-graph
stage — this extends the crawl surface the way its scrape output
would feed one (north-star "URLs scheduled+extracted"); the synthetic
graph spec lives in frontier/webgraph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .urlnorm import canonicalize_cols

__all__ = [
    "synthetic_edges",
    "pagerank",
    "in_degree",
    "anchor_stats",
]


def synthetic_edges(spark: SparkSession, universe: int) -> DataFrame:
    """(src, dst) long edge list of the deterministic synthetic web
    graph (webgraph.py closed form): page i has (i*7+3)%6 outlinks,
    link k targets (i*31 + k*17 + 7) % universe. Built entirely
    JVM-side from a range scan — no Python row work."""
    nl = (F.col("src") * 7 + 3) % 6
    return (
        spark.range(universe).toDF("src")
        .where(nl > 0)  # sequence(0, -1) would DESCEND, not empty
        .select("src",
                F.explode(F.sequence(F.lit(0), nl - 1)).alias("k"))
        .select(
            "src",
            ((F.col("src") * 31 + F.col("k") * 17 + 7) % universe)
            .alias("dst"))
    )


def pagerank(edges: DataFrame, n_nodes: int, iters: int = 5,
             scale: int = 10**9, init_ranks: DataFrame | None = None,
             ) -> DataFrame:
    """Exact integer fixed-point PageRank (damping 85/100).

    ``edges``: (src long, dst long) with node ids in [0, n_nodes).
    Returns (id, rank) for every node, rank an int64 in units of
    ``scale`` (initial mass = scale per node).

    Every arithmetic step is integer (+, *, div) so the result is
    invariant under partitioning and engine — the oracle gate hashes
    it exactly. Keep ``n_nodes * scale * 85 < 2^63`` (10^8 nodes at
    the default scale; pass a smaller scale beyond that).

    ``init_ranks``: optional (id, rank) warm start — the crawl-wave
    maintenance path: after a wave appends edges, resume from the
    previous wave's ranks and run a few iterations instead of a cold
    full solve (the iteration is a pure function of (ranks, edges),
    so warm-start k iters on unchanged edges is EXACTLY cold-start
    at prior+k iters — pinned in tests). Nodes absent from
    ``init_ranks`` (newly discovered pages) start at ``scale``.
    """
    from ..operators.dedup import (_free_rdd_ids,
                                   _tracked_local_checkpoint)

    spark = edges.sparkSession
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        # AQE OFF for the whole solve (crawl-profile precedent): an
        # AdaptiveSparkPlan reports UnknownPartitioning at checkpoint
        # time, so localCheckpoint under AQE LOSES the partitioning
        # and every iteration re-shuffles the edge list — verified in
        # the physical plan (Exchange on the checkpointed edges side
        # appears iff AQE is on). The loop is a fixed-shape dataflow;
        # AQE has nothing to re-plan here.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        return _pagerank_loop(spark, edges, n_nodes, iters, scale,
                              init_ranks, _tracked_local_checkpoint,
                              _free_rdd_ids)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)


def _pinned_ranks_checkpoint(spark, df, parts, ckpt, free):
    """Materialize ``df`` and re-checkpoint it id-bucketed + sorted
    with PRESERVED metadata, freeing the intermediate immediately.

    Why two checkpoints: a join-derived plan's analyzed output attrs
    drift from the executed plan's (attribute dedup), so its
    checkpoint carries a partitioning that references non-output
    attrs — downstream joins treat it as unknown and re-shuffle the
    ranks side TWICE per iteration. Checkpointing once to settle the
    ids, then checkpointing the now-linear repartition+sort plan,
    yields a leaf whose metadata survives: the iteration join runs
    with ONE exchange total (the dst aggregate) and zero sorts
    (plan-pinned in tests)."""
    mid, mid_held = ckpt(df)
    out, out_held = ckpt(
        mid.repartition(parts, "id").sortWithinPartitions("id"))
    free(spark, mid_held)
    return out, out_held


def _pagerank_loop(spark, edges, n_nodes, iters, scale, init_ranks,
                   _tracked_local_checkpoint, _free_rdd_ids):
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nodes = spark.range(n_nodes).toDF("id")
    # Pre-partition the edge list by the join key and pre-sort within
    # partitions ONCE, pinned with an eager checkpoint: LogicalRDD
    # (AQE off) preserves hash partitioning AND ordering, so every
    # iteration's edges ⋈ ranks sort-merge join takes the big edge
    # relation with NO exchange and NO re-sort — the per-iteration
    # shuffles are the (smaller) ranks side and the groupBy(dst)
    # aggregate. Without this, edges re-shuffle every round (parquet
    # scans carry no partitioning metadata) — measured 1.7x vs 2.2x
    # 8→32-core scaling at 10M nodes (BENCH/graphrank_scaling_r7).
    edges, edges_held = _tracked_local_checkpoint(
        edges.repartition(parts, "src").sortWithinPartitions("src"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # ranks carries outdeg (null = dangling) so the loop body joins
    # edges only — one shuffle join + one aggregate per iteration.
    if init_ranks is not None:
        r0 = F.coalesce(F.col("rank0"),
                        F.lit(scale).cast("long"))
        init = init_ranks.select(
            "id", F.col("rank").cast("long").alias("rank0"))
        seed = nodes.join(init, "id", "left")
    else:
        r0 = F.lit(scale).cast("long")
        seed = nodes
    ranks, held = _pinned_ranks_checkpoint(
        spark,
        seed.join(outdeg, F.col("id") == F.col("src"), "left")
        .select("id", "outdeg", r0.alias("rank")),
        parts, _tracked_local_checkpoint, _free_rdd_ids)
    for _ in range(iters):
        dangling = (ranks.where(F.col("outdeg").isNull())
                    .agg(F.coalesce(F.sum("rank"), F.lit(0))
                         .cast("long").alias("dang")))
        contrib = (
            edges.join(ranks.where(F.col("outdeg").isNotNull()),
                       F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div outdeg")).alias("in_sum")))
        new, new_held = _pinned_ranks_checkpoint(
            spark,
            ranks.select("id", "outdeg")
            .join(contrib, F.col("id") == F.col("dst"), "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id", "outdeg",
                (F.lit(15 * scale // 100)
                 + F.expr(f"(85 * (coalesce(in_sum, 0L)"
                          f" + dang div {n_nodes}L)) div 100"))
                .cast("long").alias("rank")),
            parts, _tracked_local_checkpoint, _free_rdd_ids)
        _free_rdd_ids(spark, held)  # new is eager: old is unread now
        ranks, held = new, new_held
    out = ranks.select("id", "rank")
    _free_rdd_ids(spark, edges_held)  # out depends only on ranks
    return out


def in_degree(edges: DataFrame) -> DataFrame:
    """(dst, in_deg) — incoming-link authority, the cheap proxy."""
    return edges.groupBy("dst").agg(F.count("*").alias("in_deg"))


def anchor_stats(pages: DataFrame, matches: DataFrame) -> DataFrame:
    """Per canonical-target anchor-text rollup.

    ``matches``: output of match_nodes on the anchor pattern
    ``[:a {:href href} anchor]`` — one row per matched <a>, with
    bindings href + anchor and the page ``url``. Hrefs are
    canonicalized against the source page (urlnorm), then grouped by
    target. All aggregates are order-independent (count, distinct
    count, min, max) so the gate hashes them exactly.
    """
    href = F.element_at("bindings", "href")
    anchor = F.element_at("bindings", "anchor")
    canon = canonicalize_cols(href, F.col("url"))
    return (
        matches.select(canon.alias("target"), anchor.alias("anchor"))
        .groupBy("target")
        .agg(F.count("*").alias("n_anchors"),
             F.countDistinct("anchor").alias("n_distinct"),
             F.min("anchor").alias("min_anchor"),
             F.max("anchor").alias("max_anchor")))


def synthetic_pages(spark: SparkSession, universe: int,
                    weight: int = 0) -> DataFrame:
    """(url, html binary) for every page of the synthetic web — the
    same simulated fetch the crawl uses (webgraph.gen_html), shaped
    for pages_to_nodes. Arrow-batched; one pass, no shuffle."""
    from . import webgraph

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            urls = [webgraph.url_of(int(i)) for i in pdf["id"]]
            htmls = [webgraph.gen_html(u, universe, weight).encode()
                     for u in urls]
            yield pd.DataFrame({"url": urls, "html": htmls})

    return (spark.range(universe)
            .mapInPandas(gen, "url string, html binary"))


# ---------------------------------------------------------------------------
# DuckDB oracle twins (independent closed-form reconstructions)
# ---------------------------------------------------------------------------

_EDGES_CTE = """
u AS (SELECT ({universe_sql})::BIGINT AS n),
nodes AS (SELECT UNNEST(range(u.n))::BIGINT AS id FROM u),
ks AS (SELECT id, UNNEST(range((id*7 + 3) % 6))::BIGINT AS k
       FROM nodes),
edges AS (
  SELECT ks.id AS src, ks.k,
         (ks.id*31 + ks.k*17 + 7) % u.n AS dst
  FROM ks, u
)"""


def pagerank_cte_chain(universe_sql: str, iters: int = 5,
                       scale: int = 10**9) -> str:
    """The WITH-body of the DuckDB PageRank twin: CTEs ``edges``,
    ``outdeg``, ``indeg`` and ``r0``..``r{iters}`` (the final ranks
    live in ``r{iters}`` as (id, rank)). Composable — callers embed
    it in their own query (see rescore_authority)."""
    parts = [_EDGES_CTE.format(universe_sql=universe_sql)]
    parts.append("""
outdeg AS (SELECT src, count(*)::BIGINT AS c FROM edges GROUP BY src),
indeg AS (SELECT dst, count(*)::BIGINT AS d FROM edges GROUP BY dst),
r0 AS (SELECT id, {scale}::BIGINT AS rank FROM nodes)""".format(
        scale=scale))
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
d{t} AS (SELECT coalesce(sum(rank), 0)::BIGINT AS dang
        FROM r{p} LEFT JOIN outdeg ON r{p}.id = outdeg.src
        WHERE outdeg.src IS NULL),
c{t} AS (SELECT e.dst, sum(r.rank // o.c)::BIGINT AS in_sum
        FROM edges e
        JOIN r{p} r ON e.src = r.id
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst),
r{t} AS (SELECT n.id,
        ({15 * scale // 100} + (85 * (coalesce(c.in_sum, 0)
           + (SELECT dang FROM d{t}) // (SELECT n FROM u))) // 100
        )::BIGINT AS rank
        FROM nodes n LEFT JOIN c{t} c ON n.id = c.dst)""")
    return ",".join(parts)


def pagerank_oracle_sql(universe_sql: str, iters: int = 5,
                        scale: int = 10**9) -> str:
    """DuckDB twin of :func:`pagerank` over :func:`synthetic_edges`
    at universe = ``universe_sql`` (a scalar SQL expression), with
    in-degree joined in. The iteration chain is UNROLLED as CTEs —
    every step the same integer floor arithmetic as the Spark side,
    so the value hash matches exactly."""
    body = pagerank_cte_chain(universe_sql, iters, scale)
    return f"""WITH {body}
SELECT r.id, r.rank, coalesce(i.d, 0)::BIGINT AS in_deg
FROM r{iters} r LEFT JOIN indeg i ON r.id = i.dst"""


def anchor_oracle_sql(universe_sql: str) -> str:
    """DuckDB twin of the anchor pipeline: closed-form href per
    (page i, link k) resolved per RFC 3986 — a path-only href
    (k%3==0) resolves against the SOURCE page's origin (host_of(i)),
    the other two forms carry the target's own host — then the same
    order-independent rollup as :func:`anchor_stats`."""
    host = ("(CASE WHEN {v} % 3 = 0 THEN 0"
            " ELSE {v} % 10 END)::VARCHAR")
    path = ("(CASE WHEN {v} % 11 = 0 THEN '/private/doc/'"
            " ELSE '/doc/' END) || {v}::VARCHAR")
    return f"""WITH {_EDGES_CTE.format(universe_sql=universe_sql)},
anchors AS (
  SELECT 'https://host'
         || (CASE WHEN k % 3 = 0
                  THEN {host.format(v='src')}
                  ELSE {host.format(v='dst')} END)
         || '.example' || {path.format(v='dst')} AS target,
         'L' || src::VARCHAR || '-' || k::VARCHAR AS anchor
  FROM edges
)
SELECT target,
       count(*)::BIGINT AS n_anchors,
       count(DISTINCT anchor)::BIGINT AS n_distinct,
       min(anchor) AS min_anchor,
       max(anchor) AS max_anchor
FROM anchors GROUP BY target"""


def host_authority(ranks: DataFrame, n_hosts: int = 10) -> DataFrame:
    """Roll page ranks up to host authority — the signal a crawl
    uses to size per-host politeness budgets (authoritative hosts
    earn more fetch slots). Host of id follows the webgraph closed
    form (0 if id%3==0 else id%n_hosts); output (host, authority,
    n_pages) — integer sum, hash-exact."""
    host = F.when(F.col("id") % 3 == 0, F.lit(0)) \
        .otherwise(F.col("id") % n_hosts)
    return (ranks.select(host.alias("host"), "rank")
            .groupBy("host")
            .agg(F.sum("rank").alias("authority"),
                 F.count("*").alias("n_pages")))


def host_authority_oracle_sql(universe_sql: str,
                              n_hosts: int = 10) -> str:
    """DuckDB twin: PageRank CTE chain -> host rollup."""
    chain = pagerank_cte_chain(universe_sql)
    return f"""WITH {chain}
SELECT (CASE WHEN id % 3 = 0 THEN 0 ELSE id % {n_hosts} END)::BIGINT
         AS host,
       sum(rank)::BIGINT AS authority,
       count(*)::BIGINT AS n_pages
FROM r5 GROUP BY 1"""

