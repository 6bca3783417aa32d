"""Bucketed co-located join: nodes and matches bucketed by url join
WITHOUT a shuffle — the parse-once/query-many layout for repeated
pattern queries over a stored crawl (ARCHITECTURE scale table)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    # embedded catalog writes to spark.sql.warehouse.dir (set at
    # session build time to the default local dir); use explicit
    # database-less table names and clean up after
    yield
    spark.sql("DROP TABLE IF EXISTS nodes_bucketed")
    spark.sql("DROP TABLE IF EXISTS matches_bucketed")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    from cuphic_spark.compiler import compile_pattern, match_nodes
    from cuphic_spark.operators.parse import pages_to_nodes
    from cuphic_spark.sources.pagegen import DEFAULT_COPIES, synth_pages

    nodes = pages_to_nodes(
        synth_pages(spark, "/root/testdata/sf0.001", DEFAULT_COPIES))
    (nodes.write.mode("overwrite")
     .bucketBy(8, "url").sortBy("url", "node_id")
     .saveAsTable("nodes_bucketed"))

    nb = spark.table("nodes_bucketed")
    m = match_nodes(nb, [compile_pattern("links", "[:a {:href href} ???]")])
    (m.write.mode("overwrite")
     .bucketBy(8, "url").sortBy("url")
     .saveAsTable("matches_bucketed"))

    mb = spark.table("matches_bucketed")
    n_matches = mb.count()
    assert n_matches > 0  # the join checks below are not vacuous
    joined = mb.join(nb, ["url", "node_id"]).select(
        "url", "node_id", "tag",
        F.element_at("bindings", "href").alias("href"))

    from cuphic_spark.plans import executed_plan

    plan = executed_plan(joined)
    # co-located buckets: the join must not shuffle either side
    assert "Exchange hashpartitioning" not in plan
    rows = joined.collect()
    assert len(rows) == n_matches  # every match row joined
    assert all(r.tag == "a" and r.href is not None for r in rows)
