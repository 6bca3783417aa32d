"""Dump formatted physical plans for the engine's key operators into
BENCH/PLANS.md — the `.explain` audit trail (pushdown, codegen spans,
join strategies, no stray Python stages).

Run: python BENCH/capture_plans.py
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from cuphic_spark.plans import formatted_plan as plan_of  # noqa: E402


def main() -> None:
    from pyspark.sql import functions as F

    from cuphic_spark.compiler import compile_pattern, match_nodes
    from cuphic_spark.operators.dedup import minhash_signature
    from cuphic_spark.operators.parse import pages_to_nodes
    from cuphic_spark.operators.similarity import inner_product_topk_quantized
    from cuphic_spark.session import get_spark
    from cuphic_spark.sources.pagegen import synth_pages

    spark = get_spark(cores=8)
    sf = "/root/testdata/sf0.001"
    pages = synth_pages(spark, sf)
    nodes_mem = pages_to_nodes(pages)
    nodes_path = "/tmp/cuphic_plan_nodes"
    nodes_mem.write.mode("overwrite").parquet(nodes_path)
    nodes = spark.read.parquet(nodes_path)

    compiled = [compile_pattern(k, v) for k, v in {
        "links": "[:a {:href href} ???]",
        "term": "[:term {:type term/type} term/name]",
    }.items()]

    sections = []

    def add(title, df, note):
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan_of(df)}```\n")

    add("One-pass multi-pattern scrape (in-memory nodes)",
        match_nodes(nodes_mem, compiled),
        "All patterns share ONE match scan; matches emitted via "
        "array+explode (the reference's juxt as a physical plan). "
        "The 'term' pattern ('var' child mode) adds the subtree "
        "assist: a BROADCAST left join against the cogroup "
        "reconstruction, plus pruned re-references of the nodes plan "
        "(4 MapInPandas total here because nodes is ephemeral — "
        "pinned in test_spark_extract; over materialized parquet "
        "they are column-pruned scans). Patterns without 'var' "
        "children keep the plan at exactly one MapInPandas.")

    add("Head-filter pushdown (materialized nodes parquet)",
        match_nodes(nodes, compiled[:1]),
        "Pattern head-check compiled to a filter that reaches the "
        "parquet scan. Check: PushedFilters on `tag`, ReadSchema "
        "pruned to the consumed columns.")

    add("MinHash signatures",
        minhash_signature(spark.read.parquet(f"{sf}/documents.parquet")),
        "Explode once -> partial aggregation before the shuffle. "
        "Check: HashAggregate(partial) below Exchange.")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_embedding")))
    add("ANN quantized top-k",
        inner_product_topk_quantized(emb, q),
        "Query side broadcast (corpus never shuffles for the join); "
        "per-query window for rank. Check: BroadcastNestedLoopJoin/"
        "BroadcastExchange on the small side only.")

    from cuphic_spark.frontier.seen import _anti_seen

    cands = spark.createDataFrame(
        [(f"https://h{i}.x/{i}",) for i in range(50)], "url string")
    seen_df = spark.read.parquet(nodes_path).select(
        F.col("url"))  # stand-in big table
    add("Broadcast seen-check (two-phase semi/anti)",
        _anti_seen(cands, seen_df, "broadcast"),
        "The seen side only STREAMS through two broadcast hash joins "
        "(hits = seen semi-join broadcast(candidates), then "
        "candidates anti-join broadcast(hits)). Check: two "
        "BroadcastHashJoins, NO Exchange/Sort on the seen scan — at "
        "10^10 seen rows this is the difference between a map-side "
        "pass and shuffling the whole membership table every wave.")

    from cuphic_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    ivf_path = "/tmp/cuphic_plan_ivf"
    build_ivf_index(emb, ivf_path, bits=4)
    add("Persisted IVF probe (cell-partitioned index)",
        ivf_topk_indexed(spark, ivf_path, q, k=5, bits=4),
        "The probe-cell set becomes a literal partition filter: "
        "check PartitionFilters: [cell IN (...)] on the index scan — "
        "only probed directories are read; the 100TB ANN shape.")

    from cuphic_spark.operators.similarity import train_ivf_centroids

    km_path = "/tmp/cuphic_plan_ivf_km"
    cents = train_ivf_centroids(emb, n_cells=4, max_iter=3)
    build_ivf_index(emb, km_path, centroids=cents)
    add("Persisted IVF probe (TRAINED k-means centroids)",
        ivf_topk_indexed(spark, km_path, q, k=5, n_probe=2),
        "Round 5: the trained coarse quantizer keeps the exact same "
        "plan shape as the sign-cell index — literal PartitionFilters "
        "on cell from the n_probe-nearest-centroid expansion; only "
        "the cell ASSIGNMENT (an Arrow-batched argmin over the "
        "broadcast centroids) differs, and it runs at index-build/"
        "probe-expansion time, never in the scan.")

    from cuphic_spark.frontier.robots import parse_robots, robots_allowed

    bodies = spark.createDataFrame(
        [(f"h{i}.example",
          "User-agent: *\nDisallow: /private/\nAllow: /private/pub*\n"
          f"Crawl-delay: {1 + i % 5}\n")
         for i in range(20)],
        "host string, robots_txt string")
    urls = spark.range(500).selectExpr(
        "concat('https://h', id % 20, '.example/private/doc', id) as url")
    add("RFC 9309 robots decision (parse once, decide column-side)",
        robots_allowed(urls, parse_robots(bodies), "cuphicbot"),
        "Round 6: the MapInPandas stages parse the robots bodies "
        "(host-dim sized, never per URL); every per-URL step is "
        "JVM-side — the candidate join is a BroadcastHashJoin on "
        "host with the RULES dim broadcast (explicit hint: the "
        "parsed dim's Arrow lineage has no stats, and the URL side "
        "is the 10^10-row side at crawl scale), the pattern match "
        "is RLike over the parse-time regex column, and the longest-"
        "match/tie verdict is a struct-max aggregation keyed by url. "
        "Check: MapInPandas only on the bodies lineage, "
        "BroadcastExchange on the rules AND delay dims, no Python "
        "in the per-URL path.")

    from cuphic_spark.operators.dedup import line_dedup
    from cuphic_spark.operators.webclean import (
        fix_mojibake,
        ngram_diversity,
        script_detect,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    multiline = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)),
            F.concat(F.lit("shared navbar line "),
                     (F.col("doc_id") % 7).cast("string")),
            F.lit("ok")).alias("text"))
    add("Corpus line-level dedup (C4 rule)",
        line_dedup(multiline, min_chars=4),
        "Round 7: winner election is a HashAggregate on md5(line) "
        "with a partial_min BELOW the Exchange (map-side combine — "
        "hot boilerplate lines collapse before the shuffle); the "
        "small winner relation comes back as a BroadcastHashJoin "
        "(at 100 TB it degrades gracefully to a shuffle join on the "
        "uniform digest — either is correct, Catalyst picks by "
        "size), and the reassembly is ONE ObjectHashAggregate on "
        "doc_id (array_sort + concat_ws inside the agg — no window "
        "over the corpus). Check: exactly two Exchanges on the line "
        "path (digest agg partial_min, doc reassembly partial), "
        "zero Python stages.")

    add("Mojibake repair (codec-generated replace chain)",
        fix_mojibake(docs),
        "Round 7: the whole repair is ONE Project inside "
        "WholeStageCodegen — 23 chained literal replace() calls, "
        "no regex, no UDF, no shuffle; the found-flag reuses the "
        "materialized repaired column (single evaluation). Check: "
        "no Exchange, no MapInPandas, one codegen span over the "
        "scan.")

    add("Script detection + n-gram diversity (pure column exprs)",
        script_detect(docs).join(ngram_diversity(docs), "doc_id"),
        "Round 7: per-script regexp_count and the zip_with bigram "
        "diversity are scan-side Projects; the join here exists "
        "only to show both plans — each operator alone is "
        "shuffle-free. Check: ReadSchema prunes to (doc_id, text), "
        "no Python stages.")

    # --- PageRank iteration body (the session-2 loop contract) ---
    from cuphic_spark.frontier.graphrank import (
        _pinned_ranks_checkpoint,
        synthetic_edges,
    )
    from cuphic_spark.operators.dedup import (
        _free_rdd_ids,
        _tracked_local_checkpoint,
    )

    aqe_was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    bc_was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        pr_edges, _ = _tracked_local_checkpoint(
            synthetic_edges(spark, 5000)
            .repartition(parts, "src").sortWithinPartitions("src"))
        outdeg = pr_edges.groupBy("src").agg(
            F.count("*").alias("outdeg"))
        pr_ranks, _ = _pinned_ranks_checkpoint(
            spark,
            spark.range(5000).toDF("id")
            .join(outdeg, F.col("id") == F.col("src"), "left")
            .select("id", "outdeg",
                    F.lit(10**9).cast("long").alias("rank")),
            parts, _tracked_local_checkpoint, _free_rdd_ids)
        add("PageRank iteration body (edges ⋈ ranks → dst aggregate)",
            pr_edges.join(
                pr_ranks.where(F.col("outdeg").isNotNull()),
                F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div outdeg")).alias("in_sum")),
            "Session 2: both join inputs are pinned checkpoints "
            "(src-hash / id-hash, pre-sorted) under the AQE-off "
            "loop profile — the sort-merge join runs with NO "
            "exchange and NO sort on either side; the iteration's "
            "only shuffle is the dst aggregate (partial sum below "
            "the Exchange). Check: exactly one Exchange "
            "hashpartitioning, zero Sort nodes, both sides Scan "
            "ExistingRDD.")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc_was)

    (REPO / "BENCH" / "PLANS.md").write_text(
        "# Physical plans of the key operators (captured, sf0.001)\n\n"
        + "\n".join(sections))
    print("BENCH/PLANS.md written,", len(sections), "plans")


if __name__ == "__main__":
    main()
