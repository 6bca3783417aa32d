"""Link-graph analytics (frontier/graphrank.py): exact integer
PageRank, in-degree, anchor-text rollups, and the DuckDB oracle
twins the gate runs at sf0.01.

The PageRank twin here is an INDEPENDENT single-process
reimplementation of the documented semantics (dict loops, no Spark,
no shared code) — the same twin strategy as tests/oracle."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cuphic_spark.compiler import compile_pattern, match_nodes
from cuphic_spark.frontier import webgraph
from cuphic_spark.frontier.graphrank import (
    anchor_oracle_sql,
    anchor_stats,
    in_degree,
    pagerank,
    pagerank_oracle_sql,
    synthetic_edges,
    synthetic_pages,
)
from cuphic_spark.operators.parse import pages_to_nodes

U = 101  # prime: exercises every (i*31+k*17+7)%U residue class
SCALE = 10**9


def _py_edges(u: int) -> list[tuple[int, int]]:
    return [(i, (i * 31 + k * 17 + 7) % u)
            for i in range(u) for k in range((i * 7 + 3) % 6)]


def _py_pagerank(u: int, iters: int) -> dict[int, int]:
    edges = _py_edges(u)
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {i: SCALE for i in range(u)}
    for _ in range(iters):
        dang = sum(v for i, v in r.items() if i not in out)
        ins = {i: 0 for i in range(u)}
        for s, d in edges:
            ins[d] += r[s] // out[s]
        r = {i: (15 * SCALE) // 100 + (85 * (ins[i] + dang // u)) // 100
             for i in range(u)}
    return r


def test_synthetic_edges_match_webgraph(spark):
    got = sorted((r.src, r.dst)
                 for r in synthetic_edges(spark, U).collect())
    exp = sorted(
        (i, webgraph.link_target(i, k, U))
        for i in range(U) for k in range(webgraph.n_links(i)))
    assert got == exp
    # dangling pages (i = 3 mod 6) emit NO edges — the descending
    # sequence(0,-1) pitfall this module guards against
    srcs = {s for s, _ in got}
    assert all(i not in srcs for i in range(3, U, 6))


def test_pagerank_matches_python_twin(spark):
    e = synthetic_edges(spark, U)
    got = {r.id: r.rank for r in pagerank(e, U, iters=5).collect()}
    assert got == _py_pagerank(U, 5)


def test_pagerank_mass_is_conserved_within_floor_loss(spark):
    """Total mass stays near U*SCALE: each step loses only integer
    floor remainders (< 1 unit per share + 100 per node)."""
    e = synthetic_edges(spark, U)
    total = (pagerank(e, U, iters=3)
             .agg(F.sum("rank")).first()[0])
    assert U * SCALE * 0.98 < total <= U * SCALE


def test_pagerank_oracle_sql_matches_spark(spark):
    e = synthetic_edges(spark, U)
    pr = pagerank(e, U, iters=5)
    ind = in_degree(e)
    got = {r.id: (r.rank, r.in_deg) for r in
           pr.join(ind, pr.id == ind.dst, "left")
             .select("id", "rank",
                     F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
             .collect()}
    ora = {r[0]: (r[1], r[2])
           for r in duckdb.sql(pagerank_oracle_sql(str(U))).fetchall()}
    assert got == ora


def test_anchor_stats_matches_closed_form_oracle(spark):
    pages = synthetic_pages(spark, U)
    m = match_nodes(
        pages_to_nodes(pages),
        [compile_pattern("anchors", "[:a {:href href} anchor]")])
    got = {r.target: (r.n_anchors, r.n_distinct,
                      r.min_anchor, r.max_anchor)
           for r in anchor_stats(pages, m).collect()}
    ora = {r[0]: (r[1], r[2], r[3], r[4])
           for r in duckdb.sql(anchor_oracle_sql(str(U))).fetchall()}
    assert got == ora
    # the RFC-3986 wrinkle is present: some path-only href resolved
    # to the SOURCE page's host, so at least one target exists that
    # is NOT any page's canonical url_of
    urls = {webgraph.url_of(i) for i in range(U)}
    assert any(t not in urls for t in got)


def test_pagerank_rejects_nothing_but_frees_checkpoints(spark):
    """The iteration loop frees each round's localCheckpoint blocks:
    after the run, at most the final ranks remain persisted."""
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    pagerank(synthetic_edges(spark, U), U, iters=4).collect()
    after = len(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before <= 2  # final ranks (+ its init) only


def test_rescore_frontier_authority_dim_join(spark):
    """rescore_frontier's dim join: authority-blended rescoring
    through the real band/manifest plumbing equals the closed-form
    composition (seed score + rank div 100000), and only frontier
    columns are written back (no rank leakage into the schema)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    out = entry.q_rescore_authority(spark, sf)
    assert set(out.columns) == {"url", "score", "depth"}
    got = {r.url: r.score for r in out.collect()}

    n = spark.read.parquet(f"{sf}/documents.parquet").count()
    ranks = {r.id: r.rank for r in
             pagerank(synthetic_edges(spark, n), n, iters=5).collect()}
    exp = {f"https://host{i % 10}.example/doc/{i}":
           10000 + i % 7 + ranks[i] // 100000 for i in range(n)}
    assert got == exp


def test_url_trap_signals_taxonomy(spark):
    """Hand-pinned trap taxonomy: self-loop path, calendar stack,
    session id, deep path, param explosion — and clean urls that
    trip NOTHING (fragment stripped, query excluded from path)."""
    from cuphic_spark.frontier.urltrap import url_trap_signals

    rows = [
        (1, "https://h.example/a/b/a/a/p"),           # repeat 3
        (2, "https://h.example/2024/01/07/post"),     # 3 digit segs
        (3, "https://h.example/d?PHPSESSID=9&x=1"),   # session (CI)
        (4, "https://h.example/" + "/".join("abcdefghijkl")),  # deep
        (5, "https://h.example/d?" + "&".join(
            f"p{i}={i}" for i in range(8))),          # 8 params
        (6, "https://h.example/doc/5?a=1&b=2#frag"),  # clean
        (7, "https://h.example"),                     # no path
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: (r.n_segments, r.max_repeat, r.n_digit_segments,
                      r.n_params, r.has_session, r.is_trap)
           for r in url_trap_signals(df).collect()}
    assert got[1] == (5, 3, 0, 0, False, True)
    assert got[2] == (4, 1, 3, 0, False, True)
    assert got[3] == (1, 1, 0, 2, True, True)
    assert got[4] == (12, 1, 0, 0, False, True)
    assert got[5] == (1, 1, 0, 8, False, True)
    assert got[6] == (2, 1, 1, 2, False, False)
    assert got[7] == (0, 0, 0, 0, False, False)


def test_pagerank_warm_start_equals_cold(spark):
    """Crawl-wave rank maintenance: warm-starting from wave-k ranks
    and iterating 2 more equals a cold 5-iteration solve exactly
    (the update is a pure function of (ranks, edges)); new nodes
    absent from the warm start seed at scale."""
    e = synthetic_edges(spark, U)
    cold = {r.id: r.rank for r in pagerank(e, U, iters=5).collect()}
    prev = pagerank(e, U, iters=3)
    warm = {r.id: r.rank
            for r in pagerank(e, U, iters=2,
                              init_ranks=prev).collect()}
    assert warm == cold

    # a warm start missing some ids treats them as fresh (scale):
    # iters=0 passthrough shows the seeding rule directly
    partial = prev.where(F.col("id") < 50)
    seeded = {r.id: r.rank
              for r in pagerank(e, U, iters=0,
                                init_ranks=partial).collect()}
    prev_map = {r.id: r.rank for r in prev.collect()}
    assert all(seeded[i] == prev_map[i] for i in range(50))
    assert all(seeded[i] == SCALE for i in range(50, U))


def test_host_authority_rollup(spark):
    """Host authority = exact sum of member-page ranks; host 0
    absorbs every i%3==0 page (the webgraph skew) so it dominates."""
    from cuphic_spark.frontier.graphrank import host_authority

    ranks = pagerank(synthetic_edges(spark, U), U, iters=3)
    got = {r.host: (r.authority, r.n_pages)
           for r in host_authority(ranks).collect()}
    py = {r_id: r for r_id, r in _py_pagerank(U, 3).items()}
    exp: dict[int, list[int]] = {}
    for i, r in py.items():
        h = 0 if i % 3 == 0 else i % 10
        a, n = exp.get(h, (0, 0))
        exp[h] = (a + r, n + 1)
    assert got == exp
    assert got[0][1] == max(n for _, n in got.values())


def test_pagerank_edges_side_no_exchange_in_loop_plan(spark):
    """Plan pin for the single-prep design: with the loop's AQE-off
    profile, the checkpointed (repartitioned + sorted) edge relation
    feeds the iteration's sort-merge join with NO exchange and NO
    re-sort on the edges side — only the dst aggregate (and the
    smaller ranks side) shuffle. Under AQE the checkpoint loses its
    partitioning (UnknownPartitioning at checkpoint time), which is
    exactly why pagerank() pins the profile."""
    import re

    from cuphic_spark.operators.dedup import _tracked_local_checkpoint

    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    bc_was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges, _ = _tracked_local_checkpoint(
            synthetic_edges(spark, 5000)
            .repartition(parts, "src").sortWithinPartitions("src"))
        outdeg = edges.groupBy("src").agg(
            F.count("*").alias("outdeg"))
        from cuphic_spark.frontier.graphrank import (
            _pinned_ranks_checkpoint)
        from cuphic_spark.operators.dedup import _free_rdd_ids
        ranks, _ = _pinned_ranks_checkpoint(
            spark,
            spark.range(5000).toDF("id")
            .join(outdeg, F.col("id") == F.col("src"), "left")
            .select("id", "outdeg",
                    F.lit(10**9).cast("long").alias("rank")),
            parts, _tracked_local_checkpoint, _free_rdd_ids)
        contrib = (edges.join(
            ranks.where(F.col("outdeg").isNotNull()),
            F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div outdeg")).alias("in_sum")))
        plan = contrib._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc_was)
    # BOTH join inputs arrive pinned (src-hash / id-hash, pre-sorted):
    # the iteration's only exchange is the dst aggregate, and the
    # sort-merge join inserts no Sort at all
    assert not re.search(r"Exchange hashpartitioning\(src", plan), plan
    assert not re.search(r"Exchange hashpartitioning\(id", plan), plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 0, plan


def test_rep_meta_and_nofollow_semantics(spark):
    """REP page-level semantics: content tokens trim + lowercase,
    'none' implies both directives, multiple metas OR together,
    rel is space-token matched (nofollow ugc counts; 'nofollowx'
    does not), absent rel is followable."""
    from cuphic_spark.frontier.robots import (
        ANCHOR_REL_PATTERN, META_ROBOTS_PATTERN,
        followable_links, meta_directives)
    from cuphic_spark.operators.parse import pages_to_nodes

    html1 = (b'<doc><meta name="ROBOTS" content=" NoIndex "/>'
             b'<meta name="robots" content="nofollow"/>'
             b'<a href="https://a" rel="NOFOLLOW ugc">A</a>'
             b'<a href="https://b" rel="nofollowx">B</a>'
             b'<a href="https://c">C</a></doc>')
    html2 = b'<doc><meta name="robots" content="none"/></doc>'
    html3 = b'<doc><meta name="viewport" content="noindex"/></doc>'
    pages = spark.createDataFrame(
        [("u1", html1), ("u2", html2), ("u3", html3)],
        "url string, html binary")
    m = match_nodes(pages_to_nodes(pages), [
        compile_pattern("m", META_ROBOTS_PATTERN),
        compile_pattern("r", ANCHOR_REL_PATTERN)])
    md = {r.url: (r.noindex, r.nofollow_meta) for r in
          meta_directives(m.where(F.col("pattern_key") == "m"))
          .collect()}
    assert md == {"u1": (True, True), "u2": (True, True)}
    assert "u3" not in md  # name != robots never contributes
    fl = {r.href: r.followable for r in
          followable_links(m.where(F.col("pattern_key") == "r"))
          .collect()}
    assert fl == {"https://a": False, "https://b": True,
                  "https://c": True}


def test_url_trap_signals_uppercase_scheme(spark):
    """Trap signals must fire on raw, not-yet-canonicalized urls:
    an UPPERCASE scheme still parses (a lowercase-only scheme class
    would zero every signal and wave the url through)."""
    from cuphic_spark.frontier.urltrap import url_trap_signals

    df = spark.createDataFrame(
        [(1, "HTTPS://H.example/a/b/a/a/p"),
         (2, "Https://h.example/d?PHPSESSID=1")],
        "doc_id long, url string")
    got = {r.doc_id: (r.max_repeat, r.has_session, r.is_trap)
           for r in url_trap_signals(df).collect()}
    assert got[1] == (3, False, True)
    assert got[2] == (1, True, True)
