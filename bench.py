"""Benchmark harness — run the headline pipeline at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "throughput": {...}}

Headline ops (BASELINE.json metric = URLs scheduled+extracted/sec):
  * extract_text      — parse+extract every page (the byte-identity op)
  * scrape_relational — 4 compiled patterns through the Catalyst path
  * scrape_kernel     — same 4 patterns through the Arrow kernel path
  * minhash_pages     — MinHash signatures over page text
  * ann_topk          — quantized inner-product top-k over embeddings
  * crawl             — 2 frontier waves (schedule+fetch+extract+merge)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from cuphic_spark.compiler import compile_pattern, match_nodes
from cuphic_spark.frontier.crawl import CrawlConfig, crawl
from cuphic_spark.operators.dedup import minhash_signature
from cuphic_spark.operators.parse import (
    pages_extract_text,
    pages_to_nodes,
    scrape_pages,
)
from cuphic_spark.operators.similarity import inner_product_topk_quantized
from cuphic_spark.session import get_spark
from cuphic_spark.sources.pagegen import synth_pages

PATTERNS = {
    "links": "[:a {:href href} ???]",
    "term": "[:term {:type term/type} term/name]",
    "p_id": "[:p {:id ?id} ???]",
    "title": "[:title {:id title/id} title/text]",
}

# Per-section protocol bands: per-section minimum across several FULL
# bench runs at stock defaults (IN-BENCH legs, not isolated ones — the
# round-6 probe showed isolated-leg bands are systematically
# optimistic because a full bench integrates over host-contention
# sub-windows an isolated leg dodges; BENCH/BASELINE.md "round-6
# elevation explained"). A min leg more than WINDOW_FACTOR above its
# band marks the section in `window_degraded` in the output JSON —
# the artifact then describes its own noise. The 1.4 factor is the
# documented uniform-window spread (BENCH/BASELINE.md window-noise
# section). Distinguish window from plan regression via the REST
# cpu-time signature (cpu up = plan; cpu flat + run up = window;
# BENCH/scrape_context_probe.py is the standing diagnosis tool).
PROTOCOL_SEC = {
    # Round-6 re-measure: min per section over 3 full bench runs at
    # each level, final round-6 code (crawl session AQE-off + wave
    # overlap — both crawl bands shifted; crawl@8 24.6 -> 20.0).
    32: {"extract_text": 2.120, "scrape_relational": 6.097,
         "scrape_kernel": 5.725, "minhash_pages": 11.047,
         "ann_topk": 1.221, "crawl": 20.732},
    8: {"extract_text": 4.622, "scrape_relational": 8.020,
        "scrape_kernel": 12.853, "minhash_pages": 26.952,
        "ann_topk": 1.175, "crawl": 19.985},
}
WINDOW_FACTOR = 1.4


def degraded_sections(min_legs: dict, protocol: dict,
                      factor: float = WINDOW_FACTOR) -> list[str]:
    """Sections whose best leg still sits above factor x its protocol
    band — the degraded-window signature (a plan change shows up here
    too, but the raw legs distinguish them: uniform elevation across
    sections = window, one section alone = plan). Pure function,
    pinned by a synthetic-slowdown unit test."""
    return sorted(name for name, t in min_legs.items()
                  if name in protocol and t > factor * protocol[name])


def main() -> None:
    # DEFAULTS ARE THE DOCUMENTED CONFIG: BENCH/BASELINE.md numbers are
    # produced by running this file with NO env overrides except
    # SPARK_GRAFT_CPUS (the two scaling legs). Round 1 shipped a
    # BASELINE.md measured under undocumented overrides — never again.
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    copies = int(os.environ.get("CUPHIC_BENCH_COPIES", "100"))
    waves = int(os.environ.get("CUPHIC_BENCH_WAVES", "2"))
    # crawl waves sized so per-wave scheduling overhead amortizes
    # (tiny waves measure job latency, not throughput)
    wave_cap = int(os.environ.get("CUPHIC_BENCH_WAVE_CAP", "200000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark(app_name="cuphic-bench", cores=cpus)
    # The miniature corpus compresses to ~tens of MB; default 128MB
    # maxPartitionBytes would bin it into ~8 scan partitions and cap
    # parallelism regardless of cores (at 100TB real row groups give
    # this granularity for free — here we size it explicitly).
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(16 * 1024))
    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}

    # Materialize the corpus with a FIXED 64-way file layout so every
    # parallelism level reads identical input with >= 64 scan tasks
    # (a single parquet file would serialize the whole pipeline on one
    # task and mask scaling entirely).
    n_input_parts = int(os.environ.get("CUPHIC_BENCH_INPUT_PARTS", "64"))
    pages = synth_pages(spark, sf_dir, copies).repartition(n_input_parts)
    pages.write.mode("overwrite").parquet("/tmp/cuphic_bench_pages")
    pages = spark.read.parquet("/tmp/cuphic_bench_pages")
    n_pages = pages.count()

    # every section runs once discarded (codegen compile, classload,
    # python-worker spawn), then REPS timed ROUND-ROBIN passes over
    # the whole section sequence, min-per-section across passes — the
    # BASELINE.md protocol. REPS defaults to 2 (round-3 verdict #1):
    # this VM's neighbor load swings 4-7x in minute-scale windows, so
    # a single leg is not a measurement — BENCH_r03 carried a
    # throttled window as the official number. Round-robin (not
    # back-to-back per-section legs) is deliberate: a multi-minute
    # throttle window then hits each section at most once per pass,
    # so the min across passes dodges it at the same total cost. All
    # raw legs are emitted in the JSON so the artifact carries its
    # own noise control.
    reps = int(os.environ.get("CUPHIC_BENCH_REPS", "2"))
    legs: dict[str, list[float]] = {}
    outputs: dict[str, object] = {}
    sections: list[tuple] = []  # (name, fn, warm_fn)

    def section(name, fn, warm_fn=None):
        sections.append((name, fn, warm_fn or fn))

    # 1. extraction (byte-identity op over every page)
    section("extract_text",
            lambda: pages_extract_text(pages)
            .agg(F.sum(F.length("text"))).collect())

    # 2. relational scrape (Catalyst head-filter path) over a
    # MATERIALIZED nodes table — the parse-once/query-many shape
    # (PushedFilters reach the parquet scan; the single_var subtree
    # assist's extra plan references become pruned column scans
    # instead of re-parses). Parse cost is measured by extract_text /
    # scrape_kernel; this measures the relational match itself.
    compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
    pages_to_nodes(pages).write.mode("overwrite").parquet(
        "/tmp/cuphic_bench_nodes")
    nodes = spark.read.parquet("/tmp/cuphic_bench_nodes")
    section("scrape_relational",
            lambda: match_nodes(nodes, compiled)
            .groupBy("pattern_key").count().collect())

    # 3. kernel scrape (Arrow path, same patterns — the generality tax)
    section("scrape_kernel",
            lambda: scrape_pages(pages, PATTERNS)
            .groupBy("pattern_key").count().collect())

    # 4. minhash signatures over page text
    page_docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    section("minhash_pages",
            lambda: minhash_signature(page_docs, k=3, n_hashes=4)
            .agg(F.count("*"), F.min("minhash_0")).collect())

    # 5. ANN top-k over embeddings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.where(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    section("ann_topk",
            lambda: inner_product_topk_quantized(emb, queries,
                                                 k=10).collect())

    # 6. crawl waves (schedule + fetch + extract + discover +
    # checkpoint) — each timed leg is a FULL fresh crawl in its own
    # checkpoint dir (identical input by construction); the warm pass
    # runs a mini-crawl that exercises the wave machinery end-to-end
    def crawl_leg():
        crawl_dir = tempfile.mkdtemp(prefix="cuphic_bench_crawl_")
        cfg = CrawlConfig(universe=1_000_000,
                          n_seeds=int(os.environ.get(
                              "CUPHIC_BENCH_SEEDS", "200000")),
                          budget_per_host=int(os.environ.get(
                              "CUPHIC_BENCH_BUDGET", "65536")),
                          wave_cap=wave_cap, n_waves=waves,
                          checkpoint_dir=crawl_dir,
                          partitions=max(cpus, 8))
        summary = crawl(spark, cfg)
        shutil.rmtree(crawl_dir, ignore_errors=True)
        return summary

    def crawl_warm():
        warm_dir = tempfile.mkdtemp(prefix="cuphic_bench_warm_")
        crawl(spark, CrawlConfig(universe=10_000, n_seeds=64,
                                 budget_per_host=64, wave_cap=64,
                                 n_waves=1, checkpoint_dir=warm_dir))
        shutil.rmtree(warm_dir, ignore_errors=True)

    section("crawl", crawl_leg, warm_fn=crawl_warm)

    for _name, _fn, warm_fn in sections:  # discarded warm pass
        warm_fn()
    best: dict[str, float] = {}
    for _rep in range(reps):  # round-robin timed passes
        for name, fn, _w in sections:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            legs.setdefault(name, []).append(round(dt, 3))
            if name not in best or dt < best[name]:
                best[name] = dt
                outputs[name] = out
    timings.update({n: round(t, 3) for n, t in best.items()})

    throughput["extract_pages_per_sec"] = round(
        n_pages / timings["extract_text"], 1)
    total_matches = sum(r["count"]
                        for r in outputs["scrape_relational"])
    throughput["relational_matches_per_sec"] = round(
        total_matches / timings["scrape_relational"], 1)
    summary = outputs["crawl"]  # min leg supplies metrics/IO counters
    scheduled = sum(m["scheduled"] for m in summary["metrics"])
    throughput["urls_scheduled_extracted_per_sec"] = round(
        scheduled / timings["crawl"], 1)
    crawl_timings = summary["timings"]
    # per-wave frontier/seen IO counters (round-3 verdict #7): lets
    # the banded-read IO claims be verified from the
    # bench artifact alone (each counter is oracle-pinned in tests)
    crawl_io = [{k: m[k] for k in
                 ("wave", "scheduled", "new_urls", "frontier_rows_read",
                  "frontier_rows_written", "frontier_size")}
                for m in summary["metrics"]]

    # window-degradation self-description: only meaningful at the
    # documented stock config the protocol bands were measured under
    stock = (sf == "0.1" and copies == 100 and waves == 2
             and wave_cap == 200000 and cpus in PROTOCOL_SEC)
    window_degraded = (degraded_sections(timings, PROTOCOL_SEC[cpus])
                       if stock else None)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline pipeline seconds (extract+scrape+dedup+ann+crawl)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "cpus": cpus,
        "reps": reps,
        "legs_sec": legs,
        "throughput": throughput,
        "crawl_scheduled": scheduled,
        "crawl_phase_sec": crawl_timings,
        "crawl_io": crawl_io,
        "window_degraded": window_degraded,
        "window_factor": WINDOW_FACTOR if stock else None,
    }))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
