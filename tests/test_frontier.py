"""Frontier determinism tests (SURVEY §5.2 layer 4): the Spark crawl
must reproduce the single-process oracle exactly — per-wave scheduled
sets AND order, seen-set membership, metrics — and survive
kill-and-resume and repartitioning unchanged."""

import shutil

import pytest
from pyspark.sql import functions as F

from cuphic_spark.frontier.crawl import (
    STAGES,
    CrawlConfig,
    crawl,
    last_complete_wave,
    read_fetch_log,
)
from tests.oracle import crawl_oracle

CFG = dict(universe=5000, n_seeds=12, budget_per_host=4, wave_cap=24,
           n_waves=3)


@pytest.fixture(scope="module")
def oracle_state():
    return crawl_oracle.run(**CFG)


@pytest.fixture(scope="module")
def spark_crawl(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("crawl")
    cfg = CrawlConfig(checkpoint_dir=str(d), **CFG)
    summary = crawl(spark, cfg)
    return cfg, summary


def test_fetch_log_matches_oracle(spark, spark_crawl, oracle_state):
    cfg, _ = spark_crawl
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    expected = oracle_state.fetch_log
    assert len(log) == len(expected)
    for row, exp in zip(log, expected):
        assert (row.wave, row.rank_in_wave, row.url) == \
            (exp["wave"], exp["rank_in_wave"], exp["url"])
        assert (row.depth, row.score, row.bytes) == \
            (exp["depth"], exp["score"], exp["bytes"])


def test_metrics_match_oracle(spark_crawl, oracle_state):
    cfg, summary = spark_crawl
    assert summary["metrics"] == oracle_state.metrics


def test_seen_set_matches_oracle(spark, spark_crawl, oracle_state):
    from cuphic_spark.frontier.crawl import _read_seen

    cfg, _ = spark_crawl
    last = last_complete_wave(cfg)
    seen = _read_seen(spark, cfg, last)
    rows = {r.url: r.added_wave for r in seen.collect()}
    assert rows == oracle_state.seen


def test_frontier_matches_oracle(spark, spark_crawl, oracle_state):
    from cuphic_spark.frontier.snapshots import read_frontier_asof

    cfg, _ = spark_crawl
    last = last_complete_wave(cfg)
    frontier = read_frontier_asof(spark, cfg, last)
    rows = {r.url: (r.depth, r.score, r.discovered_wave)
            for r in frontier.collect()}
    assert rows == oracle_state.frontier


def test_resume_reproduces_fresh_run(spark, tmp_path, oracle_state):
    """Kill after wave 1, resume to wave 3 -> identical final state."""
    d1 = str(tmp_path / "resumed")
    cfg_partial = CrawlConfig(checkpoint_dir=d1, **{**CFG, "n_waves": 2})
    crawl(spark, cfg_partial)
    assert last_complete_wave(cfg_partial) == 1

    cfg_full = CrawlConfig(checkpoint_dir=d1, **CFG)
    summary = crawl(spark, cfg_full)
    assert summary["start_wave"] == 2  # resumed, not recomputed

    log = read_fetch_log(spark, cfg_full).orderBy(
        "wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d1, ignore_errors=True)


def test_fetch_log_reads_only_committed_waves(spark, spark_crawl, tmp_path,
                                              oracle_state):
    """A wave whose lineage marker never committed contributes no
    fetch-log rows: read_fetch_log lists waves 0..last_complete_wave,
    not every fetch_log dir on disk."""
    import os

    cfg, _ = spark_crawl
    d = str(tmp_path / "uncommitted")
    shutil.copytree(cfg.checkpoint_dir, d)
    os.remove(os.path.join(d, "wave=00002", "_lineage.json"))
    log = read_fetch_log(spark, CrawlConfig(checkpoint_dir=d, **CFG)) \
        .orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log if e["wave"] < 2]
    shutil.rmtree(d, ignore_errors=True)


def test_resume_fills_a_gap_in_the_committed_prefix(spark, tmp_path,
                                                    oracle_state):
    """Waves commit as a contiguous prefix: with wave 1's lineage and
    seen delta gone, wave 2's marker builds on a wave that never
    committed, so the last complete wave is 0. A resume drops the
    stale wave 2 before replaying wave 1 (its old marker must not
    count once wave 1 commits), and the crawl ends in the oracle's
    state."""
    import os

    from cuphic_spark.frontier.snapshots import list_snapshots, verify_lineage

    d = str(tmp_path / "gap")
    cfg = CrawlConfig(checkpoint_dir=d, **CFG)
    crawl(spark, cfg)
    w1 = os.path.join(d, "wave=00001")
    os.remove(os.path.join(w1, "_lineage.json"))
    shutil.rmtree(os.path.join(w1, "seen_delta"))
    assert last_complete_wave(cfg) == 0
    assert [s["wave"] for s in list_snapshots(cfg)] == [0]

    first = crawl(spark, CrawlConfig(checkpoint_dir=d,
                                     **{**CFG, "n_waves": 2}))
    assert first["start_wave"] == 1
    assert last_complete_wave(cfg) == 1
    assert not os.path.exists(os.path.join(d, "wave=00002"))
    summary = crawl(spark, cfg)
    assert summary["start_wave"] == 2
    assert first["metrics"] + summary["metrics"] == oracle_state.metrics[1:]
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    assert verify_lineage(cfg) == []
    shutil.rmtree(d, ignore_errors=True)


def test_rollback_drops_waves_above_a_gap(spark_crawl, tmp_path):
    """rollback_to_wave deletes every wave dir above its target — also
    a marked wave that sits above an uncommitted one."""
    import os

    from cuphic_spark.frontier.snapshots import rollback_to_wave

    cfg, _ = spark_crawl
    d = str(tmp_path / "gap_rollback")
    shutil.copytree(cfg.checkpoint_dir, d)
    os.remove(os.path.join(d, "wave=00001", "_lineage.json"))
    assert rollback_to_wave(CrawlConfig(checkpoint_dir=d, **CFG), 0) == 2
    assert sorted(n for n in os.listdir(d) if n.startswith("wave=")) == \
        ["wave=00000"]
    shutil.rmtree(d, ignore_errors=True)


def test_cuckoo_prune_path_same_result(spark, tmp_path, oracle_state):
    """Wave-loop cuckoo pruning must be pruning-only: forcing it on
    from wave 1 (threshold 0) cannot change any output."""
    d = str(tmp_path / "cuckoo_crawl")
    cfg = CrawlConfig(checkpoint_dir=d, cuckoo_min_seen=0,
                      cuckoo_probe_min_ratio=0,  # force the probe at
                      # toy scale (auto routing would skip it: the
                      # seen set doesn't dwarf the candidates here)
                      **CFG)
    summary = crawl(spark, cfg)
    assert summary["metrics"] == oracle_state.metrics
    import os
    assert os.path.isdir(os.path.join(d, "wave=00000", "cuckoo"))
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_cuckoo_probe_cost_routing(spark, tmp_path, oracle_state):
    """Round-5: the cuckoo PROBE auto-routes on the seen/candidate
    ratio (the probe ships every candidate through a cogroup — pure
    overhead until the seen set dwarfs the stream), and shard
    MAINTENANCE follows the same prediction (a filter nobody will
    probe next wave is flat per-wave cost; skipping drops the shards
    entirely — the only staleness-safe skip — and the ratio crossing
    later triggers a full rebuild from the seen table). The decision
    lands in lineage and results are identical either way."""
    import json as _json
    import os as _os

    d = str(tmp_path / "cuckoo_routed")
    cfg = CrawlConfig(checkpoint_dir=d, cuckoo_min_seen=0, **CFG)
    summary = crawl(spark, cfg)
    assert summary["metrics"] == oracle_state.metrics
    for w in range(CFG["n_waves"]):
        with open(_os.path.join(d, f"wave={w:05d}",
                                "_lineage.json")) as fh:
            lin = _json.load(fh)
        # toy seen/candidate ratio: probe routed OFF, and shard
        # maintenance therefore skipped (no cuckoo dir written)
        assert lin["cuckoo_probe"] is False
        assert not _os.path.isdir(_os.path.join(d, f"wave={w:05d}",
                                                "cuckoo"))
    log = read_fetch_log(spark, cfg).orderBy(
        "wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_pluggable_fetcher_drives_full_wave_loop(spark, tmp_path):
    """Round-5: the fetch stage is fetcher-agnostic — injecting a
    custom fetch_fn (the seam where a production httpx/aiohttp batch
    fetcher plugs in; this sandbox has no network) drives the whole
    wave loop over the custom corpus: robots, politeness, link
    extraction, canonicalization, seen set, checkpointing."""
    def fake_fetch(url):
        i = int(url.rsplit("/", 1)[1])
        return (f"<doc><p>page {i}</p>"
                f'<a href="/doc/{i + 100}">n</a></doc>').encode()

    d = str(tmp_path / "plugfetch")
    cfg = CrawlConfig(checkpoint_dir=d, universe=5000, n_seeds=6,
                      budget_per_host=8, wave_cap=16, n_waves=2,
                      extra={"fetch_fn": fake_fetch})
    m = crawl(spark, cfg)["metrics"]
    # seed 0 is /private/doc/0 on host0 -> robots-denied; the other 5
    # fetch through the custom fetcher and each discovers exactly one
    # same-host link (i+100), which schedules next wave
    assert (m[0]["scheduled"], m[0]["denied"], m[0]["new_urls"]) \
        == (5, 1, 5)
    assert (m[1]["scheduled"], m[1]["new_urls"]) == (5, 5)
    rows = read_fetch_log(spark, cfg).where(F.col("wave") == 1).collect()
    assert sorted(r.url.rsplit("/", 1)[1] for r in rows) == \
        ["101", "102", "103", "104", "105"]
    # bytes in the log are the CUSTOM pages' sizes
    for r in rows:
        assert r.bytes == len(fake_fetch(r.url))
    shutil.rmtree(d, ignore_errors=True)


def test_cuckoo_incremental_update_and_prune(spark, tmp_path):
    from cuphic_spark.frontier import webgraph
    from cuphic_spark.frontier.seen import (
        cuckoo_prune,
        maintain_cuckoo_shards,
    )

    batch1 = spark.createDataFrame(
        [(webgraph.url_of(i),) for i in range(150)], "url string")
    batch2 = spark.createDataFrame(
        [(webgraph.url_of(i),) for i in range(150, 300)], "url string")
    all_urls = batch1.unionByName(batch2)
    # maintenance protocol: incremental fold, rebuild-from-truth on
    # overflow — across both batches no false negative may survive
    shards = maintain_cuckoo_shards(None, batch1, batch1, 4,
                                    str(tmp_path / "c1"))
    shards = maintain_cuckoo_shards(shards, batch2, all_urls, 4,
                                    str(tmp_path / "c2"))

    probe = spark.createDataFrame(
        [(webgraph.url_of(i),) for i in range(0, 400)], "url string")
    flags = {r.url: r.maybe_seen
             for r in cuckoo_prune(probe, shards, 4).collect()}
    # every inserted url MUST flag maybe-seen (no false negatives)
    for i in range(300):
        assert flags[webgraph.url_of(i)], i
    # most never-inserted urls should prune clean
    fresh = [flags[webgraph.url_of(i)] for i in range(300, 400)]
    assert sum(fresh) < 40


def test_rollback_and_lineage(spark, tmp_path, oracle_state):
    """Rollback to wave 0 then re-crawl -> identical final fetch log;
    lineage stays consistent throughout."""
    from cuphic_spark.frontier.snapshots import (
        list_snapshots,
        rollback_to_wave,
        verify_lineage,
    )

    d = str(tmp_path / "rb")
    cfg = CrawlConfig(checkpoint_dir=d, **CFG)
    crawl(spark, cfg)
    assert verify_lineage(cfg) == []
    assert [s["wave"] for s in list_snapshots(cfg)] == [0, 1, 2]

    assert rollback_to_wave(cfg, 0) == 2
    assert last_complete_wave(cfg) == 0
    assert verify_lineage(cfg) == []

    summary = crawl(spark, cfg)  # replay waves 1..2
    assert summary["start_wave"] == 1
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_canonicalization_paths_agree(spark):
    """Column-expression canonicalization == urllib reference on the
    full synthetic href space."""
    from cuphic_spark.frontier import webgraph
    from cuphic_spark.frontier.urlnorm import canonicalize_cols
    from cuphic_spark.frontier.urlnorm_py import canonicalize_py

    rows = []
    for i in range(0, 400):
        base = webgraph.url_of(i)
        for k in range(webgraph.n_links(i)):
            rows.append((webgraph.href_of(i, k, 5000), base))
    df = spark.createDataFrame(rows, "href string, base string")
    got = df.select(
        canonicalize_cols(F.col("href"), F.col("base")).alias("c"),
        "href", "base").collect()
    for r in got:
        assert r.c == canonicalize_py(r.href, r.base), (r.href, r.base)


def test_cuckoo_filter_membership():
    import numpy as np

    from cuphic_spark.frontier.seen import CuckooFilter

    cf = CuckooFilter(64)
    hashes = [np.uint64(h * 0x9E3779B97F4A7C15 % (1 << 64))
              for h in range(1, 101)]
    for h in hashes:
        assert cf.insert_hash(h)
    for h in hashes:
        assert cf.contains_hash(h)  # no false negatives
    absent = [np.uint64(h * 0x517CC1B727220A95 % (1 << 64))
              for h in range(1, 201)]
    fp = sum(cf.contains_hash(h) for h in absent)
    assert fp < 40  # sane false-positive rate
    assert cf.delete_hash(hashes[0])
    assert not cf.contains_hash(hashes[0]) or True  # deletion frees a slot


def test_cuckoo_shards_roundtrip(spark):
    from cuphic_spark.frontier.seen import (
        CuckooFilter,
        build_cuckoo_shards,
    )
    from cuphic_spark.frontier import webgraph

    seen = spark.createDataFrame(
        [(webgraph.url_of(i), 0) for i in range(300)],
        "url string, added_wave int")
    shards = {r.partition: (r.n_buckets, r.blob)
              for r in build_cuckoo_shards(seen, 4).collect()}
    assert len(shards) >= 2
    # reload a shard and verify membership of its own urls
    import pyspark.sql.functions as F2
    keyed = seen.select(
        "url",
        F2.pmod(F2.xxhash64(F2.regexp_extract(
            "url", r"^[a-z]+://([^/:?#]+)", 1)), F2.lit(4))
        .cast("int").alias("partition"),
        F2.xxhash64("url").alias("h")).collect()
    import numpy as np
    misses = 0
    for r in keyed:
        nb, blob = shards[r.partition]
        cf = CuckooFilter.from_bytes(bytes(blob), nb)
        if not cf.contains_hash(np.uint64(np.int64(r.h))):
            misses += 1
    assert misses == 0  # cuckoo filters never false-negative


def test_cuckoo_eviction_no_false_negatives():
    """Advisor round-1 (high): with non-power-of-two bucket counts the
    xor-fold alternate bucket was not involutive, so evicted
    fingerprints became invisible to contains_hash. Eviction-heavy
    randomized load at several awkward sizes must show ZERO false
    negatives among accepted inserts."""
    import random

    import numpy as np

    from cuphic_spark.frontier.seen import CuckooFilter

    rng = random.Random(7)
    for requested in (3, 50, 100, 1000, 1531):  # none a power of two
        cf = CuckooFilter(requested)
        assert cf.n_buckets & (cf.n_buckets - 1) == 0
        capacity = cf.n_buckets * CuckooFilter.SLOTS
        accepted = []
        # push to ~95% load: forces long eviction chains
        for _ in range(int(capacity * 0.95)):
            h = np.uint64(rng.getrandbits(64))
            if cf.insert_hash(h):
                accepted.append(h)
        misses = [h for h in accepted if not cf.contains_hash(h)]
        assert misses == [], (requested, cf.n_buckets, len(misses))


def test_canonicalize_pathless_base(spark):
    """Advisor round-1 (low): relative hrefs against a path-less base
    must resolve under origin + '/', not splice into the authority."""
    from cuphic_spark.frontier.urlnorm import canonicalize_cols
    from cuphic_spark.frontier.urlnorm_py import canonicalize_py

    rows = [
        ("page.html", "https://base.example"),
        ("a/b.html", "https://base.example"),
        ("page.html", "https://base.example/"),
        ("page.html", "HTTP://Base.Example:80"),
        ("/abs.html", "https://base.example"),
        ("page.html#frag", "https://base.example"),
    ]
    df = spark.createDataFrame(rows, "href string, base string")
    got = df.select(
        canonicalize_cols(F.col("href"), F.col("base")).alias("c"),
        "href", "base").collect()
    for r in got:
        assert r.c == canonicalize_py(r.href, r.base), (r.href, r.base)
    by_pair = {(r.href, r.base): r.c for r in got}
    assert by_pair[("page.html", "https://base.example")] == \
        "https://base.example/page.html"


def test_resume_partitions_mismatch_raises(spark, tmp_path):
    """Advisor round-1 (low): cuckoo shards bake partition ids at
    write time; resuming with a different cfg.partitions must fail
    loudly instead of silently probing the wrong shards."""
    d = str(tmp_path / "resume_parts")
    cfg = CrawlConfig(checkpoint_dir=d, partitions=4, **CFG)
    crawl(spark, cfg)

    from cuphic_spark.frontier.snapshots import rollback_to_wave
    rollback_to_wave(cfg, 1)

    bad = CrawlConfig(checkpoint_dir=d, partitions=8, **CFG)
    with pytest.raises(ValueError, match="partitions mismatch"):
        crawl(spark, bad)

    good = CrawlConfig(checkpoint_dir=d, partitions=4, **CFG)
    summary = crawl(spark, good)
    assert summary["start_wave"] == 2
    shutil.rmtree(d, ignore_errors=True)


def test_bloom_path_same_result_and_incremental(spark, tmp_path, oracle_state):
    """Forcing the bloom prefilter on must not change any result
    (prune-only contract), and the incrementally-maintained bitmap
    must equal a from-scratch build over the final seen table."""
    from cuphic_spark.frontier.crawl import _read_seen
    from cuphic_spark.frontier.seen import build_bloom

    d = str(tmp_path / "bloom_crawl")
    bits = 1 << 16
    cfg = CrawlConfig(checkpoint_dir=d, bloom_min_seen=0,
                      bloom_bits=bits, **CFG)
    summary = crawl(spark, cfg)
    # the bloom-modeling oracle: same schedule/counts as the plain
    # one, PLUS the bloom_m/popcount/est_fp wave metrics — popcount
    # equality differentially pins the oracle's pure-Python xxh64 +
    # bit-index twin against Spark's bitmap, wave by wave
    oracle_b = crawl_oracle.run(**CFG, use_bloom=True, bloom_bits=bits,
                                bloom_min_seen=0)
    assert summary["metrics"] == oracle_b.metrics
    assert all("bloom_popcount" in m for m in summary["metrics"])
    assert [dict(m, **{k: None for k in
                       ("bloom_m", "bloom_popcount", "bloom_est_fp")})
            for m in summary["metrics"]] == \
        [dict(m, bloom_m=None, bloom_popcount=None, bloom_est_fp=None)
         for m in oracle_state.metrics]  # bloom adds metrics, changes none
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]

    import os as _os
    last = last_complete_wave(cfg)
    bloom_path = _os.path.join(d, f"wave={last:05d}", "bloom.bin")
    assert _os.path.exists(bloom_path)
    with open(bloom_path, "rb") as fh:
        incremental = fh.read()
    scratch = build_bloom(_read_seen(spark, cfg, last), bits)
    assert incremental == scratch
    shutil.rmtree(d, ignore_errors=True)


def test_bloom_sharded_invariance(spark, tmp_path, oracle_state):
    """bloom_mode='sharded' (the 10^10-url design point: one bitmap
    per seen partition, cogroup probe/maintenance, no broadcast and
    no driver bitmap) must schedule BYTE-IDENTICALLY to the global
    bitmap mode — blooms only prune; the anti-join is the exactness.
    Pinned three ways: fetch_log equality vs the oracle, non-bloom
    metrics equality vs the plain oracle, and resume continuing from
    the persisted shards."""
    d = str(tmp_path / "sharded_crawl")
    cfg = CrawlConfig(checkpoint_dir=d,
                      bloom_min_seen=0, bloom_mode="sharded",
                      partitions=4, **CFG)
    summary = crawl(spark, cfg)
    # scheduling identical to the no-bloom oracle run
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    # all non-bloom metrics identical; sharded emits its own bloom_*
    assert [dict(m, **{k: None for k in
                       ("bloom_m", "bloom_popcount", "bloom_est_fp")})
            for m in summary["metrics"]] == \
        [dict(m, bloom_m=None, bloom_popcount=None, bloom_est_fp=None)
         for m in oracle_state.metrics]
    assert all("bloom_popcount" in m for m in summary["metrics"])

    # shard bitmaps: identical to a from-scratch distributed build
    # over the final seen table (incremental merge = full rebuild),
    # and popcount totals match the persisted metric
    import os as _os

    from cuphic_spark.frontier.crawl import _read_seen
    from cuphic_spark.frontier.seen import (
        bloom_shard_bits,
        bloom_shards_stats,
        build_bloom_shards,
    )

    last = last_complete_wave(cfg)
    shards = spark.read.parquet(
        _os.path.join(d, f"wave={last:05d}", "bloom_shards"))
    got = {r.partition: bytes(r.bitmap) for r in shards.collect()}
    m_shard = bloom_shard_bits(next(iter(got.values())))
    scratch = {r.partition: bytes(r.bitmap) for r in build_bloom_shards(
        _read_seen(spark, cfg, last), cfg.partitions, m_shard).collect()}
    assert got == scratch
    m_total, pc = bloom_shards_stats(shards)
    assert summary["metrics"][-1]["bloom_popcount"] == pc
    assert summary["metrics"][-1]["bloom_m"] == m_total

    # resume: drop the last wave, re-run, identical metrics
    shutil.rmtree(_os.path.join(d, f"wave={last:05d}"))
    resumed = crawl(spark, cfg)
    assert resumed["start_wave"] == last
    assert resumed["metrics"][-1] == summary["metrics"][-1]
    shutil.rmtree(d, ignore_errors=True)


def test_bloom_shards_prune_no_false_negatives(spark):
    """Unit contract of the shard primitives: every seen url must be
    flagged maybe_seen=True (false negatives would drop re-discovered
    urls from the anti-join and re-crawl... no — worse, the
    definitely-new bypass would DUPLICATE them into the frontier);
    unseen-partition candidates are all definitely-new; merge of a
    delta equals a from-scratch build over the union."""
    from cuphic_spark.frontier.seen import (
        bloom_shards_prune,
        build_bloom_shards,
        merge_bloom_shards,
    )

    base = spark.createDataFrame(
        [(f"https://host{i % 5}.example/doc/{i}",) for i in range(200)],
        "url string")
    delta = spark.createDataFrame(
        [(f"https://host{i % 5}.example/doc/{i}",)
         for i in range(200, 260)], "url string")
    m = 1 << 12
    shards = build_bloom_shards(base, 4, m)
    merged = merge_bloom_shards(shards, delta, 4, m)
    scratch = build_bloom_shards(base.unionByName(delta), 4, m)
    assert {(r.partition, bytes(r.bitmap)) for r in merged.collect()} \
        == {(r.partition, bytes(r.bitmap)) for r in scratch.collect()}
    # no false negatives over every inserted url
    flagged = bloom_shards_prune(base.unionByName(delta), merged, 4)
    assert flagged.where(~F.col("maybe_seen")).count() == 0
    # a host universe disjoint from every shard: all definitely-new
    other = spark.createDataFrame(
        [("https://elsewhere%d.example/x/%d" % (i, i),)
         for i in range(40)], "url string")
    empty_shards = build_bloom_shards(
        spark.createDataFrame([], "url string"), 4, m)
    fl2 = bloom_shards_prune(other, empty_shards, 4)
    assert fl2.where(F.col("maybe_seen")).count() == 0

    # m_shard not a multiple of 8 cannot round-trip through the
    # bitmap-length modulus derivation (probe would use a different
    # modulus than the build -> false negatives): rejected loudly
    import pytest as _pytest
    for bad in (100, 7, 0, -8):
        with _pytest.raises(ValueError, match="multiple of 8"):
            build_bloom_shards(base, 4, bad)
        with _pytest.raises(ValueError, match="multiple of 8"):
            merge_bloom_shards(shards, delta, 4, bad)


def test_oracle_xxh64_matches_spark(spark):
    """The oracle's pure-Python xxh64 must equal Spark's F.xxhash64
    (seed 42, UTF-8 bytes) on strings spanning every length class of
    the algorithm (empty, <4, <8, <32, 32-aligned, long) — the bloom
    metric twin is only exact if the hashes are."""
    from tests.oracle.crawl_oracle import xxh64

    samples = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh",
               "https://host1.example/doc/1",
               "https://host0.example/private/doc/33",
               "x" * 31, "y" * 32, "z" * 33, "w" * 100,
               "héllo wörld ✓" * 5]
    rows = spark.createDataFrame([(s,) for s in samples], "s string") \
        .select("s", F.xxhash64("s").alias("h")).collect()
    for r in rows:
        expect = r.h if r.h >= 0 else r.h + (1 << 64)  # signed -> u64
        assert xxh64(r.s.encode("utf-8")) == expect, r.s


def test_bloom_saturation_autoresize(spark, tmp_path):
    """Forced saturation (verdict round-4 item 2): a deliberately
    tiny bloom saturates, the est-fp signal crosses the threshold,
    and the NEXT wave boundary rebuilds at 8x the bits from the seen
    table — with scheduling byte-identical throughout (filters only
    prune) and every bloom metric matching the oracle twin."""
    kw = dict(universe=5000, n_seeds=12, budget_per_host=6,
              wave_cap=48, n_waves=4)
    bloom_kw = dict(bloom_bits=256, bloom_min_seen=1, bloom_fp_rebuild=0.2)
    d = str(tmp_path / "bloom_sat")
    cfg = CrawlConfig(checkpoint_dir=d, **kw, **bloom_kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(**kw, **bloom_kw, use_bloom=True)
    assert summary["metrics"] == oracle.metrics
    ms = [m["bloom_m"] for m in summary["metrics"]]
    fps = [m["bloom_est_fp"] for m in summary["metrics"]]
    # the tiny bitmap saturates early...
    assert fps[0] > 0.2 or fps[1] > 0.2
    # ...so at least one x8 resize fires at a later wave boundary...
    assert ms[-1] > ms[0]
    first_resized = next(i for i, m in enumerate(ms) if m > ms[0])
    assert ms[first_resized] == 8 * ms[first_resized - 1]
    # ...and the est-fp (prune-rate proxy) RECOVERS at the rebuild
    assert fps[first_resized] < fps[first_resized - 1]
    # scheduling stayed byte-identical to the no-bloom oracle
    plain = crawl_oracle.run(**kw)
    log = read_fetch_log(spark, cfg).orderBy(
        "wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in plain.fetch_log]
    # resume reproduces the resize history (bloom_m is persisted via
    # the bitmap length, the pending-rebuild flag via lineage est-fp)
    import os as _os

    last = last_complete_wave(cfg)
    _os.remove(_os.path.join(d, f"wave={last:05d}", "_lineage.json"))
    resumed = crawl(spark, CrawlConfig(checkpoint_dir=d, **kw,
                                       **bloom_kw))
    assert resumed["metrics"] == oracle.metrics[last:]
    shutil.rmtree(d, ignore_errors=True)


BOTH_BITS = 1 << 16


@pytest.fixture(scope="module")
def bloom_oracle_state():
    return crawl_oracle.run(**CFG, use_bloom=True, bloom_bits=BOTH_BITS,
                            bloom_min_seen=0)


def _both_filters_cfg(d, mode):
    """Bloom and cuckoo both live at toy scale: the bloom activates at
    any seen count, and the cuckoo shards are maintained every wave
    and probed from wave 1 on."""
    return CrawlConfig(checkpoint_dir=d, bloom_min_seen=0,
                       bloom_bits=BOTH_BITS, bloom_mode=mode,
                       cuckoo_min_seen=0, cuckoo_probe_min_ratio=0,
                       partitions=4, **CFG)


def _assert_matches_oracle(spark, cfg, metrics, plain, with_bloom,
                           first_wave=0):
    """Global bloom: every metric equals the bloom-modeling oracle's.
    Sharded: every non-bloom metric equals the plain oracle's. Both:
    the fetch log equals the oracle's."""
    if cfg.bloom_mode == "global":
        assert metrics == with_bloom.metrics[first_wave:]
    else:
        blank = dict.fromkeys(("bloom_m", "bloom_popcount", "bloom_est_fp"))
        assert [dict(m, **blank) for m in metrics] == \
            [dict(m, **blank) for m in plain.metrics[first_wave:]]
        assert all("bloom_popcount" in m for m in metrics)
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"]) for e in plain.fetch_log]


def _assert_filters_match_rebuild(spark, cfg):
    """The last committed wave's bloom (bitmap or shards) equals a
    from-scratch build over the final seen table, and its cuckoo
    shards flag every seen url (no false negatives)."""
    import os

    from cuphic_spark.frontier.crawl import _read_seen
    from cuphic_spark.frontier.seen import (
        bloom_shard_bits,
        build_bloom,
        build_bloom_shards,
        cuckoo_prune,
    )

    last = last_complete_wave(cfg)
    wd = os.path.join(cfg.checkpoint_dir, f"wave={last:05d}")
    seen = _read_seen(spark, cfg, last)
    if cfg.bloom_mode == "global":
        with open(os.path.join(wd, "bloom.bin"), "rb") as fh:
            got = fh.read()
        assert got == build_bloom(seen, bloom_shard_bits(got))
    else:
        got = {r.partition: bytes(r.bitmap) for r in spark.read.parquet(
            os.path.join(wd, "bloom_shards")).collect()}
        m = bloom_shard_bits(next(iter(got.values())))
        assert got == {r.partition: bytes(r.bitmap) for r in
                       build_bloom_shards(seen, cfg.partitions, m).collect()}
    cuckoo = spark.read.parquet(os.path.join(wd, "cuckoo"))
    flagged = cuckoo_prune(seen.select("url"), cuckoo, cfg.partitions)
    assert flagged.where(~F.col("maybe_seen")).count() == 0


def _track_wave(monkeypatch):
    """Patch crawl.run_wave to record the wave being run; returns the
    one-slot list holding it."""
    from cuphic_spark.frontier import crawl as crawl_mod

    current = [None]
    real_run_wave = crawl_mod.run_wave

    def run_wave(spark_, cfg_, wave, *args, **kwargs):
        current[0] = wave
        return real_run_wave(spark_, cfg_, wave, *args, **kwargs)

    monkeypatch.setattr(crawl_mod, "run_wave", run_wave)
    return current


@pytest.mark.parametrize("mode", ["global", "sharded"])
def test_bloom_and_cuckoo_one_prefilter_per_wave(
        spark, tmp_path, monkeypatch, oracle_state, bloom_oracle_state,
        mode):
    """With both filters live, a wave probes ONE pre-filter: the cuckoo
    shards when the probe routes on, else the bloom. Stacked behind the
    cuckoo, the bloom would only see the cuckoo's positives (already-
    seen urls plus its ~1e-4 false positives) and prune nothing. The
    bloom is still maintained every wave: metrics, fetch log, the
    persisted filters and a resume all match."""
    import collections
    import json
    import os

    from cuphic_spark.frontier import seen as seen_mod

    current = _track_wave(monkeypatch)
    bloom_probes: collections.Counter = collections.Counter()

    def counting(real):
        def probe(*args, **kwargs):
            bloom_probes[current[0]] += 1
            return real(*args, **kwargs)
        return probe

    for name in ("bloom_maybe_seen", "bloom_shards_prune"):
        monkeypatch.setattr(seen_mod, name, counting(getattr(seen_mod, name)))
    d = str(tmp_path / f"both_{mode}")
    cfg = _both_filters_cfg(d, mode)
    summary = crawl(spark, cfg)
    _assert_matches_oracle(spark, cfg, summary["metrics"], oracle_state,
                           bloom_oracle_state)
    probed = []
    for w in range(CFG["n_waves"]):
        with open(os.path.join(d, f"wave={w:05d}", "_lineage.json")) as fh:
            probed.append(json.load(fh)["cuckoo_probe"])
    # wave 0 has no shards yet, so the bloom pre-filters it; every
    # later wave probes the shards its predecessor maintained
    assert probed == [False] + [True] * (CFG["n_waves"] - 1)
    assert bloom_probes[0] >= 1
    assert [bloom_probes[w] for w, p in enumerate(probed) if p] == \
        [0] * (CFG["n_waves"] - 1), bloom_probes
    _assert_filters_match_rebuild(spark, cfg)

    # resume: drop the last wave, re-run, identical metrics
    last = last_complete_wave(cfg)
    shutil.rmtree(os.path.join(d, f"wave={last:05d}"))
    resumed = crawl(spark, cfg)
    assert resumed["start_wave"] == last
    assert resumed["metrics"][-1] == summary["metrics"][-1]
    shutil.rmtree(d, ignore_errors=True)


# stage -> (bloom mode, the seen-module function that raises in wave 1)
_FILTER_FAULTS = {
    "bloom_fold": ("global", "bloom_merge_urls"),
    "bloom_torn_write": ("global", "_write_bitmap"),
    "shard_merge": ("sharded", "merge_bloom_shards"),
    "cuckoo": ("global", "maintain_cuckoo_shards"),
}


@pytest.mark.parametrize("stage", sorted(_FILTER_FAULTS))
def test_filter_maintenance_fault_resumes_that_wave(
        spark, tmp_path, monkeypatch, oracle_state, bloom_oracle_state,
        stage):
    """A failure inside a pool-side filter maintenance stage of wave 1
    — the global bloom fold, a torn bloom.bin write, the sharded
    merge, the cuckoo maintenance — leaves wave 1 uncommitted: its
    lineage marker is written only after every filter stage joined.
    The resume reads wave 0's filters, re-runs wave 1 and ends equal
    to the oracle, with persisted filters equal to a fresh build."""
    import os

    from cuphic_spark.frontier import seen as seen_mod

    mode, name = _FILTER_FAULTS[stage]
    real = getattr(seen_mod, name)
    current = _track_wave(monkeypatch)

    def failing(*args, **kwargs):
        if current[0] != 1:
            return real(*args, **kwargs)
        if name == "_write_bitmap":  # a torn write, then the fault
            path, bitmap = args
            with open(path, "wb") as fh:
                fh.write(bitmap[:len(bitmap) // 2])
        raise RuntimeError(f"injected {stage} fault")

    monkeypatch.setattr(seen_mod, name, failing)
    d = str(tmp_path / f"fault_{stage}")
    cfg = _both_filters_cfg(d, mode)
    with pytest.raises(RuntimeError, match="injected"):
        crawl(spark, cfg)
    monkeypatch.undo()
    assert last_complete_wave(cfg) == 0
    if name == "_write_bitmap":  # the torn bitmap sits uncommitted
        sizes = [os.path.getsize(os.path.join(d, f"wave={w:05d}",
                                              "bloom.bin")) for w in (0, 1)]
        assert sizes[1] < sizes[0]

    summary = crawl(spark, cfg)
    assert summary["start_wave"] == 1
    _assert_matches_oracle(spark, cfg, summary["metrics"], oracle_state,
                           bloom_oracle_state, first_wave=1)
    _assert_filters_match_rebuild(spark, cfg)
    shutil.rmtree(d, ignore_errors=True)


# what each table stage writes inside its wave's dir
_STAGE_OUTPUTS = {
    "seen_delta": ("seen_delta",),
    "fetch_log": ("fetch_log",),
    "frontier": ("frontier",),
    "bloom": ("bloom.bin", "bloom_shards"),
    "cuckoo": ("cuckoo",),
    "manifest": ("frontier/_frontier_manifest.json",),
    "finalize": ("_lineage.json",),
}


def _dependents(name):
    """The table stages of one wave that need ``name``, transitively."""
    from cuphic_spark.frontier.crawl import STAGES

    out = {name}
    for _ in STAGES:
        out |= {s.name for s in STAGES if out & set(s.inputs)}
    return out - {name}


@pytest.mark.parametrize("stage", [s.name for s in STAGES])
def test_stage_fault_resumes_that_wave(
        spark, tmp_path, monkeypatch, oracle_state, bloom_oracle_state,
        stage):
    """A fault raised inside any stage of wave 1 — for ``finalize``
    that is wave 1's, which runs during wave 2 — stops the crawl with
    wave 1 uncommitted, and no stage that needs the failed one wrote
    anything in wave 1's dir. The resume re-runs wave 1 and ends equal
    to the oracle, with persisted filters equal to a fresh build and a
    consistent lineage. The fault is injected at the executor's one
    per-stage call, so a new table stage gets a case here."""
    import os

    from cuphic_spark.frontier import stages
    from cuphic_spark.frontier.snapshots import verify_lineage

    assert set(_STAGE_OUTPUTS) <= {s.name for s in STAGES}
    real, fired = stages._call_stage, []

    def failing(st, ctx, wave, got):
        if (wave, st.name) == (1, stage):
            fired.append(st.name)
            raise RuntimeError(f"injected {stage} fault")
        return real(st, ctx, wave, got)

    monkeypatch.setattr(stages, "_call_stage", failing)
    d = str(tmp_path / f"stage_{stage}")
    cfg = _both_filters_cfg(d, "global")  # bloom and cuckoo run in wave 1
    with pytest.raises(RuntimeError, match="injected"):
        crawl(spark, cfg)
    monkeypatch.undo()
    assert fired == [stage]
    assert last_complete_wave(cfg) == 0
    wave1 = os.path.join(d, "wave=00001")
    for dep in sorted(_dependents(stage)):
        for rel in _STAGE_OUTPUTS.get(dep, ()):
            assert not os.path.exists(os.path.join(wave1, rel)), (dep, rel)

    summary = crawl(spark, cfg)
    assert summary["start_wave"] == 1
    _assert_matches_oracle(spark, cfg, summary["metrics"], oracle_state,
                           bloom_oracle_state, first_wave=1)
    _assert_filters_match_rebuild(spark, cfg)
    assert verify_lineage(cfg) == []
    shutil.rmtree(d, ignore_errors=True)


def test_summary_timings_contract(spark, tmp_path, monkeypatch):
    """``summary["timings"]`` (read by perfbench/layers.py and bench.py)
    keeps one row per wave with the legacy interval keys, all
    non-negative, plus every table stage's [start, end] offsets. Each
    stage runs under the Spark local property ``cuphic.span`` =
    ``w{wave}/{stage}``, which is unset on the main thread once
    crawl() returns."""
    from cuphic_spark.frontier import stages

    sc = spark.sparkContext
    real, calls = stages._call_stage, []

    def recording(st, ctx, wave, got):
        calls.append((wave, st.name,
                      sc.getLocalProperty(stages.SPAN_PROPERTY)))
        return real(st, ctx, wave, got)

    monkeypatch.setattr(stages, "_call_stage", recording)
    d = str(tmp_path / "timings")
    summary = crawl(spark, _both_filters_cfg(d, "global"))
    assert sc.getLocalProperty(stages.SPAN_PROPERTY) is None
    assert [c for c in calls if c[2] != f"w{c[0]}/{c[1]}"] == []
    names = {s.name for s in STAGES}
    waves = range(CFG["n_waves"])
    assert {(w, n) for w, n, _ in calls if w >= 0} == \
        {(w, n) for w in waves for n in names}
    assert [row["wave"] for row in summary["timings"]] == list(waves)
    for row in summary["timings"]:
        for key in ("bloom_build", "schedule", "prev_wave_drain",
                    "seen_frontier_cuckoo", "fetch_log_drain"):
            assert row[key] >= 0, (key, row)
        assert set(row["stages"]) == names
        assert all(0 <= a <= b for a, b in row["stages"].values()), row
    shutil.rmtree(d, ignore_errors=True)


def test_seen_compaction(spark, tmp_path, oracle_state):
    """compact_seen merges deltas into one snapshot: identical seen
    membership, crawl resumes on top of it, readers use compact +
    post-horizon deltas (bounded roots), rollback invalidates a
    compact that covers rolled-back waves."""
    import os as _os

    from cuphic_spark.frontier.crawl import _read_seen, _seen_delta_paths
    from cuphic_spark.frontier.snapshots import (
        compact_seen,
        read_compact_marker,
        rollback_to_wave,
    )

    d = str(tmp_path / "compact_crawl")
    cfg = CrawlConfig(checkpoint_dir=d, **CFG)
    crawl(spark, cfg)
    before = {(r.url, r.added_wave)
              for r in _read_seen(spark, cfg, 2).collect()}

    compact_seen(spark, cfg, upto_wave=1)
    marker = read_compact_marker(cfg)
    assert marker["upto_wave"] == 1
    paths = _seen_delta_paths(cfg, 2)
    assert paths[0] == marker["path"] and len(paths) == 2  # compact + w2
    after = {(r.url, r.added_wave)
             for r in _read_seen(spark, cfg, 2).collect()}
    assert after == before

    # resume on top of the compact reproduces the oracle exactly
    rollback_to_wave(cfg, 1)  # drops wave 2 AND the upto=1 compact? no:
    # the compact covers waves <= 1 only, so it must SURVIVE
    assert read_compact_marker(cfg) is not None
    summary = crawl(spark, cfg)
    assert summary["start_wave"] == 2
    assert summary["metrics"] == oracle_state.metrics[2:]
    final = {(r.url, r.added_wave)
             for r in _read_seen(spark, cfg, 2).collect()}
    assert final == before

    # rollback PAST the compact horizon invalidates it
    rollback_to_wave(cfg, 0)
    assert read_compact_marker(cfg) is None
    assert _seen_delta_paths(cfg, 0)[0].endswith("seen_seed")
    shutil.rmtree(d, ignore_errors=True)


def test_auto_compaction_same_results(spark, tmp_path, oracle_state):
    """compact_every folds compaction into the wave loop without
    changing any result."""
    from cuphic_spark.frontier.crawl import _read_seen
    from cuphic_spark.frontier.snapshots import read_compact_marker

    d = str(tmp_path / "auto_compact")
    cfg = CrawlConfig(checkpoint_dir=d, compact_every=2, **CFG)
    summary = crawl(spark, cfg)
    assert summary["metrics"] == oracle_state.metrics
    marker = read_compact_marker(cfg)
    assert marker is not None and marker["upto_wave"] == 1
    rows = {r.url: r.added_wave
            for r in _read_seen(spark, cfg, 2).collect()}
    assert rows == oracle_state.seen
    shutil.rmtree(d, ignore_errors=True)


def test_broadcast_anti_seen_same_result(spark):
    """The broadcast seen check (two-phase semi/anti where the seen
    table only streams) must return exactly the unseen candidates, and
    its plan must actually broadcast (no sort-merge join on the seen
    side). The broadcast-routed crawl == oracle is pinned by
    test_auto_seen_routing_covers_all_strategies."""
    from cuphic_spark.frontier.seen import _anti_seen

    cands = spark.createDataFrame(
        [(f"https://h{i}.x/{i}",) for i in range(50)], "url string")
    seen = spark.createDataFrame(
        [(f"https://h{i}.x/{i}", 0) for i in range(0, 100, 2)],
        "url string, added_wave int")
    out = _anti_seen(cands, seen, "broadcast")
    got = sorted(r.url for r in out.collect())
    want = sorted(f"https://h{i}.x/{i}" for i in range(1, 50, 2))
    assert got == want
    from cuphic_spark.plans import executed_plan

    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_score_histogram_guard_raises(spark, tmp_path):
    """More distinct scores than max_score_histogram must fail LOUDLY
    (the distributed top-W collects one row per distinct score;
    silence here would be an O(|frontier|) driver transfer at scale):
    the 12 seeds take 7 distinct scores, over a bound of 1."""
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "fine"),
                      max_score_histogram=1, **CFG)
    with pytest.raises(ValueError, match="max_score_histogram"):
        crawl(spark, cfg)


def test_frontier_exhaustion(spark, tmp_path):
    """Crawling past frontier exhaustion must keep producing
    oracle-identical (zero) waves: empty frontier plans get
    optimizer-folded to empty LocalRelations, which drops observe()
    rows (metric fallbacks) and writes zero part files (explicit
    schema on the re-read)."""
    d = str(tmp_path / "exhaust")
    kw = dict(universe=2, n_seeds=2, budget_per_host=100,
              wave_cap=100, n_waves=8)
    cfg = CrawlConfig(checkpoint_dir=d, partitions=4, **kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(**kw)
    assert summary["metrics"] == oracle.metrics
    assert summary["metrics"][-1]["scheduled"] == 0
    assert summary["metrics"][-1]["frontier_size"] == 0
    shutil.rmtree(d, ignore_errors=True)


def test_band_manifest_write_volume_is_o_read_plus_new(spark, tmp_path):
    """THE scale property of the banded frontier (round-2 verdict,
    top item): a wave that schedules from the top band writes only
    that band's residual plus new rows — untouched bands are carried
    BY REFERENCE, so checkpoint write volume is O(rows_read + new),
    never O(|frontier|)."""
    import os

    from cuphic_spark.frontier import bands

    # band_split_rows=1000 = one run per 1000-row band (the
    # whole-band degenerate layout; prefix reads are pinned by
    # test_subband_prefix_read_is_o_cap)
    cfg = CrawlConfig(partitions=4, band_width=1000,
                      band_split_rows=1000)

    # synthetic frontier: 10 bands x 1000 rows = 10k rows
    base = spark.range(10_000).selectExpr(
        "concat('https://host', id % 20, '.example/doc/', id) as url",
        "concat('host', id % 20, '.example') as host",
        "cast(1 as int) as depth",
        "cast((9 - id % 10) * 1000 + id % 7 as long) as score",
        "cast(1 as int) as discovered_wave")
    d0 = str(tmp_path / "f0")
    manifest, written = bands.write_wave_frontier(
        spark, base, d0, cfg, bands.empty_manifest(cfg), [])
    assert written == 10_000
    assert bands.manifest_total(manifest) == 10_000
    assert len(manifest["bands"]) == 10

    # plan a 100-row wave: only the top band (1000 rows) is read
    plan = bands.plan_read(manifest, 100)
    assert plan.read_bands == [9] and plan.rows_read == 1000
    assert not plan.exhausted

    # delta = top band residual (900) + 50 new rows in a lower band
    top = bands.read_plan_df(spark, manifest, plan)
    residual = top.orderBy(F.desc("score"), F.asc("url")).limit(900)
    new = spark.range(50).selectExpr(
        "concat('https://hostN.example/new/', id) as url",
        "'hostN.example' as host", "cast(2 as int) as depth",
        "cast(8000 + id % 7 as long) as score",
        "cast(2 as int) as discovered_wave")
    d1 = str(tmp_path / "f1")
    manifest2, written2 = bands.write_wave_frontier(
        spark, residual.unionByName(new), d1, cfg, manifest, plan)

    # THE assertion: 950 rows written, not 9950
    assert written2 == 950
    assert bands.manifest_total(manifest2) == 9_000 + 950
    # every untouched band still references the ORIGINAL wave-0 files
    for b in range(8):
        paths = manifest2["bands"][str(b)]["paths"]
        assert all(p.startswith(d0) for p in paths), (b, paths)
    # band 8 = carried wave-0 file + this wave's new-rows delta
    b8 = manifest2["bands"]["8"]
    assert len(b8["paths"]) == 2 and b8["count"] == 1050
    # bytes on disk under the wave-1 dir reflect only the delta
    def dir_bytes(root):
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if f.endswith(".parquet"))
        return total
    assert dir_bytes(d1) < dir_bytes(d0) / 4

    # and the full as-of read sees the union exactly once
    full = bands.read_full_frontier(spark, manifest2)
    assert full.count() == 9950
    assert full.select("url").distinct().count() == 9950


def test_band_path_consolidation_bounds_fanin(spark, tmp_path):
    """A band accumulating new-url deltas over many unread waves is
    consolidated once its path list exceeds band_max_paths — read
    fan-in stays bounded, content identical."""
    from cuphic_spark.frontier import bands

    cfg = CrawlConfig(partitions=2, band_width=1000, band_max_paths=3)
    manifest = bands.empty_manifest(cfg)
    for w in range(6):  # 6 deltas into the same band, never read
        delta = spark.range(10).selectExpr(
            f"concat('https://h.example/w{w}/', id) as url",
            "'h.example' as host", "cast(1 as int) as depth",
            "cast(5000 + id % 7 as long) as score",
            f"cast({w} as int) as discovered_wave")
        manifest, _ = bands.write_wave_frontier(
            spark, delta, str(tmp_path / f"w{w}"), cfg, manifest, [])
    b5 = manifest["bands"]["5"]
    assert len(b5["paths"]) <= cfg.band_max_paths + 1
    assert b5["count"] == 60
    assert bands.read_full_frontier(spark, manifest).count() == 60


def test_multi_band_consolidation_one_write(spark, tmp_path):
    """Round-7 fixed-cost fold: when SEVERAL bands over-fragment in
    the same wave they compact in ONE run-partitioned write — and the
    result (content, per-band run layout, fresh-seq sequence) must be
    IDENTICAL to the former per-band loop, i.e. to the python
    oracle's _consolidate twin: fresh seqs assigned in (band asc,
    run asc) order."""
    from cuphic_spark.frontier import bands

    cfg = CrawlConfig(partitions=2, band_width=1000, band_max_paths=3)
    manifest = bands.empty_manifest(cfg)
    for w in range(5):  # 5 deltas into TWO bands each, never read;
        # the 5th write pushes BOTH bands past ideal+band_max_paths
        # so both consolidate inside the same write_wave_frontier call
        delta = spark.range(10).selectExpr(
            f"concat('https://h.example/w{w}/', id) as url",
            "'h.example' as host", "cast(1 as int) as depth",
            # half the rows band 5, half band 6
            "cast(5000 + (id % 2) * 1000 + id % 7 as long) as score",
            f"cast({w} as int) as discovered_wave")
        manifest, _ = bands.write_wave_frontier(
            spark, delta, str(tmp_path / f"w{w}"), cfg, manifest, [])
        frag5 = len(manifest["bands"]["5"]["paths"])
        if w == 3:
            assert frag5 == 4  # not yet consolidated
    b5 = manifest["bands"]["5"]
    b6 = manifest["bands"]["6"]
    # both bands consolidated (fan-in bounded) in the SAME wave
    assert len(b5["paths"]) == 1 and len(b6["paths"]) == 1
    assert b5["count"] == 25 and b6["count"] == 25
    # fresh seqs: assigned in (band asc, run asc) order — band 5's
    # segments strictly before band 6's, contiguous (the python
    # oracle _consolidate's per-band-loop sequence, which the
    # one-write fold must reproduce exactly)
    seqs5 = [s["seq"] for s in b5["segments"]]
    seqs6 = [s["seq"] for s in b6["segments"]]
    assert max(seqs5) < min(seqs6)
    assert sorted(seqs5 + seqs6) == list(
        range(min(seqs5), min(seqs5) + len(seqs5) + len(seqs6)))
    # content exact
    full = bands.read_full_frontier(spark, manifest)
    assert full.count() == 50
    assert full.select("url").distinct().count() == 50


def test_lazy_band_reads_in_wave_metrics(spark, tmp_path):
    """End-to-end pin: with a deep-enough frontier the wave metrics
    show frontier_rows_read < frontier_size (the crawl is NOT reading
    the whole frontier), and every metric still equals the oracle's."""
    kw = dict(universe=50_000, n_seeds=64, budget_per_host=8,
              wave_cap=64, n_waves=5)
    d = str(tmp_path / "lazy_crawl")
    cfg = CrawlConfig(checkpoint_dir=d, **kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(**kw)
    assert summary["metrics"] == oracle.metrics
    sizes = [kw["n_seeds"]] + [m["frontier_size"]
                               for m in summary["metrics"]]
    lazy_waves = [m for m, before in zip(summary["metrics"], sizes)
                  if m["frontier_rows_read"] < before]
    assert lazy_waves, "no wave exercised a partial frontier read"
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_hrefs_equal_kernel_scan():
    """The tree-free streaming link extractor (the crawl's only one)
    must emit EXACTLY the kernel scan's hrefs — per page, in order —
    on webgraph pages and tag soup."""
    from cuphic_spark.frontier.crawl import _hrefs_streaming
    from cuphic_spark.frontier import webgraph
    from cuphic_spark.kernel import reader
    from cuphic_spark.kernel.match import Matcher
    from cuphic_spark.kernel.scan import scan as kernel_scan
    from cuphic_spark.operators.parse import parse_html_lenient

    matcher = Matcher(reader.parse("[:a {:href href} ???]"))

    def kernel_hrefs(data):
        tree, _m = parse_html_lenient(data)
        if tree is None:
            return None
        out = []
        for _nid, _node, results in kernel_scan(tree, matcher):
            b = results[0]
            if b is not None:
                for sym, val in b.items():
                    if getattr(sym, "name", None) == "href":
                        out.append(val)
        return out

    pages = [webgraph.gen_html(webgraph.url_of(i), 5000, 30).encode()
             for i in range(0, 300, 7)]
    pages += [
        b'<d><a href="x">t</a><a name="no-href">u</a></d>',
        b'<d><a href="">empty</a><A href="upper">no</A></d>',  # case!
        b'<d><svg:a href="ns">n</svg:a><a href="ok">y</a></d>',
        b'<d><a href="outer"><a href="inner">nest</a></a></d>',
        b'junk <a href="soup">s</a> &',    # fixup rung
        b'<a href="r1">1</a><a href="r2">2</a>',  # wrapped rung
        b'<<<hopeless',                           # dropped on both
    ]
    for data in pages:
        got, _m = parse_html_lenient(data, parser=_hrefs_streaming)
        assert got == kernel_hrefs(data), data


def test_robots_ttl_refresh_matches_oracle(spark, tmp_path):
    """SURVEY §2.H: the robots cache refreshes per TTL. With a 1-wave
    TTL the deny epoch rotates every wave; the crawl must track the
    versioned spec exactly (metrics + fetch ordering == oracle) and
    the denied host set must actually CHANGE across waves
    (non-vacuity)."""
    kw = dict(universe=5000, n_seeds=12, budget_per_host=4, wave_cap=24,
              n_waves=3)
    d = str(tmp_path / "robots_ttl")
    cfg = CrawlConfig(checkpoint_dir=d, robots_ttl_waves=1, **kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(robots_ttl_waves=1, **kw)
    assert summary["metrics"] == oracle.metrics
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle.fetch_log]
    # non-vacuous: epochs 0 and 1 deny different hosts, and the
    # versioned schedule diverges from the static one
    static = crawl_oracle.run(**kw)
    assert oracle.metrics != static.metrics
    shutil.rmtree(d, ignore_errors=True)


def test_redirects_match_oracle(spark, tmp_path, oracle_state):
    """3xx handling: every url id % 3 == 0 answers 301 + Location
    instead of a page. The Location must ride the normal link
    pipeline (canonicalize -> seen -> frontier: chains resolve across
    waves, loops die on the seen set), fetch_log must carry the
    status, and the redirects metric must count them — all pinned
    against the oracle twin, plus non-vacuity (the redirected crawl
    diverges from the plain one) and a default-off pin (redirect_mod
    =0 keeps status 200 everywhere and metrics identical to the
    pre-redirect spec)."""
    from cuphic_spark.frontier import webgraph

    kw = dict(universe=5000, n_seeds=12, budget_per_host=4, wave_cap=24,
              n_waves=3)
    d = str(tmp_path / "redirects")
    cfg = CrawlConfig(checkpoint_dir=d, redirect_mod=3, **kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(redirect_mod=3, **kw)
    assert summary["metrics"] == oracle.metrics
    assert sum(m["redirects"] for m in summary["metrics"]) > 0
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url, r.status, r.bytes)
            for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"], e["status"], e["bytes"])
         for e in oracle.fetch_log]
    # redirectors answer 0 bytes with status 301; everything else 200
    for r in log:
        i = webgraph.id_of_url(r.url)
        assert (r.status, r.bytes == 0) == \
            ((301, True) if i % 3 == 0 else (200, False))
    # non-vacuous: the redirected schedule diverges from the plain one
    plain = crawl_oracle.run(**kw)
    assert oracle.metrics != plain.metrics
    # default-off: no redirects, metrics equal the plain oracle
    assert all(m["redirects"] == 0 for m in plain.metrics)
    assert all(m["redirects"] == 0 for m in oracle_state.metrics)
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("bw", [3, 500, 20000])
def test_band_width_invariance_vs_oracle(spark, tmp_path, oracle_state, bw):
    """band_width is an IO knob, not a semantics knob: at any width
    the wave metrics match the width-matched oracle AND the fetch
    ordering is byte-identical to the default-width crawl (laziness
    may delay robots-denied discovery, but can never change what
    schedules). bw=3 splits the score jitter across bands (forces
    multi-band reads); bw=20000 collapses all scores into one band
    (full-scan degenerate case). The extension loop is pinned by
    test_extension_rounds_match_oracle."""
    d = str(tmp_path / f"bw_{bw}")
    cfg = CrawlConfig(checkpoint_dir=d, band_width=bw, **CFG)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(band_width=bw, **CFG)
    assert summary["metrics"] == oracle.metrics
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]  # width-INDEPENDENT ordering
    shutil.rmtree(d, ignore_errors=True)


def test_extension_rounds_match_oracle(spark, tmp_path, monkeypatch):
    """With one slot per host, politeness leaves most of a wave's
    first read set unschedulable, so waves re-plan a larger read
    (bands.plan_read called again in the same wave) over narrow
    bands. Every extension round must still fetch exactly what the
    oracle fetches, in the same order."""
    import collections

    from cuphic_spark.frontier import bands

    kw = {**CFG, "budget_per_host": 1, "band_width": 3}
    calls: collections.Counter = collections.Counter()
    current = _track_wave(monkeypatch)
    real_plan_read = bands.plan_read

    def plan_read(*args, **kwargs):
        calls[current[0]] += 1
        return real_plan_read(*args, **kwargs)

    monkeypatch.setattr(bands, "plan_read", plan_read)
    d = str(tmp_path / "extension")
    cfg = CrawlConfig(checkpoint_dir=d, **kw)
    summary = crawl(spark, cfg)
    assert set(calls) == set(range(kw["n_waves"]))
    assert max(calls.values()) > 1, calls  # some wave extended

    oracle = crawl_oracle.run(**kw)
    assert summary["metrics"] == oracle.metrics
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"]) for e in oracle.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_crash_mid_wave_resume_identical(spark, tmp_path, oracle_state):
    """A crash AFTER some of a wave's checkpoint files are written but
    BEFORE its _lineage.json commits must leave a resumable state: the
    wave replays idempotently (mode=overwrite everywhere) and the
    final crawl is byte-identical to an uninterrupted run."""
    import os

    d = str(tmp_path / "crash_mid")
    cfg = CrawlConfig(checkpoint_dir=d, **CFG)
    crawl(spark, cfg)

    # simulate the crash: wave 2 wrote data but never committed its
    # lineage marker (delete it + one of its outputs to make the
    # partial state genuinely inconsistent)
    w2 = os.path.join(d, "wave=00002")
    os.remove(os.path.join(w2, "_lineage.json"))
    import shutil as _sh
    _sh.rmtree(os.path.join(w2, "seen_delta"))
    assert last_complete_wave(cfg) == 1

    summary = crawl(spark, cfg)  # replays wave 2 only
    assert summary["start_wave"] == 2
    assert summary["metrics"] == oracle_state.metrics[2:]
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    from cuphic_spark.frontier.snapshots import verify_lineage
    assert verify_lineage(cfg) == []
    shutil.rmtree(d, ignore_errors=True)


def test_failed_lineage_write_resumes_that_wave(spark, tmp_path,
                                                oracle_state, monkeypatch):
    """A failure in the middle of writing wave 1's ``_lineage.json``
    must not leave a marker that counts as committed: the resume
    re-runs wave 1 and the crawl ends identical to the oracle."""
    import json

    real_dump = json.dump

    def failing_dump(obj, fh, *args, **kwargs):
        if isinstance(obj, dict) and obj.get("wave") == 1 \
                and "seen_strategy" in obj:
            fh.write(json.dumps(obj)[:40])  # a torn write ...
            raise OSError("injected: disk full")  # ... then the fault
        return real_dump(obj, fh, *args, **kwargs)

    d = str(tmp_path / "torn_lineage")
    cfg = CrawlConfig(checkpoint_dir=d, **CFG)
    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="injected"):
        crawl(spark, cfg)
    monkeypatch.undo()
    assert last_complete_wave(cfg) == 0

    summary = crawl(spark, cfg)
    assert summary["start_wave"] == 1
    assert summary["metrics"] == oracle_state.metrics[1:]
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_subband_prefix_read_is_o_cap(spark, tmp_path):
    """Round-3 verdict item 2 — THE dense-band scale property: a band
    holding 100x the wave cap is read as a score-sorted run PREFIX
    (O(cap) rows), never whole; residual write volume stays
    O(rows_read + new); and the consumed set is an exact score-prefix
    closure (every frontier row at or above the cut is read)."""
    from cuphic_spark.frontier import bands

    cfg = CrawlConfig(partitions=4, band_width=1000, wave_cap=100)
    # dense score function: 10k rows, 900 distinct scores, ONE band
    base = spark.range(10_000).selectExpr(
        "concat('https://host', id % 20, '.example/doc/', id) as url",
        "concat('host', id % 20, '.example') as host",
        "cast(1 as int) as depth",
        "cast(5000 + id % 900 as long) as score",
        "cast(1 as int) as discovered_wave")
    d0 = str(tmp_path / "dense0")
    manifest, written = bands.write_wave_frontier(
        spark, base, d0, cfg, bands.empty_manifest(cfg), [])
    assert written == 10_000
    assert list(manifest["bands"]) == ["5"]
    segs = manifest["bands"]["5"]["segments"]
    assert len(segs) > 50  # ~100 runs of ~100 rows
    # runs cover disjoint, descending score ranges
    ordered = sorted(segs, key=lambda s: -s["hi"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["lo"] > b["hi"]

    # THE assertion: a 100-row wave reads ~100 rows, not 10,000
    plan = bands.plan_read(manifest, 100)
    assert 100 <= plan.rows_read <= 300, plan.rows_read
    assert not plan.exhausted
    consumed = bands.read_plan_df(spark, manifest, plan)
    rows = consumed.collect()
    assert len(rows) == plan.rows_read
    # exact prefix closure: every frontier row at/above the cut is in
    # the consumed set
    n_above = base.where(F.col("score") >= plan.s_cut).count()
    got_above = sum(1 for r in rows if r.score >= plan.s_cut)
    assert got_above == n_above

    # residual round-trip: schedule the top 100 eligible rows, write
    # the rest of the consumed set back — write volume O(rows_read)
    eligible = sorted((r for r in rows if r.score >= plan.s_cut),
                      key=lambda r: (-r.score, r.url))
    sched = {r.url for r in eligible[:100]}
    residual = consumed.where(~F.col("url").isin(list(sched)))
    d1 = str(tmp_path / "dense1")
    manifest2, written2 = bands.write_wave_frontier(
        spark, residual, d1, cfg, manifest, plan)
    assert written2 == plan.rows_read - 100
    assert bands.manifest_total(manifest2) == 9_900
    full = bands.read_full_frontier(spark, manifest2)
    assert full.count() == 9_900
    assert full.select("url").distinct().count() == 9_900
    # untouched segments still reference the original wave-0 files
    carried = [s for s in manifest2["bands"]["5"]["segments"]
               if s["paths"][0].startswith(d0)]
    assert len(carried) >= len(segs) - len(plan.consumed[5])


@pytest.mark.parametrize("split", [8, 10_000])
def test_band_split_invariance_vs_oracle(spark, tmp_path, oracle_state,
                                         split):
    """band_split_rows is an IO knob, not a semantics knob: at any
    run size the wave metrics match the split-matched oracle AND the
    fetch ordering is byte-identical to the default-layout crawl.
    split=8 forces multi-run partial-band reads with below-cut
    passthrough rows every wave; split=10000 collapses each band to
    one run (the whole-band degenerate case)."""
    d = str(tmp_path / f"split_{split}")
    cfg = CrawlConfig(checkpoint_dir=d, band_split_rows=split, **CFG)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(band_split_rows=split, **CFG)
    assert summary["metrics"] == oracle.metrics
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]  # layout-INDEPENDENT ordering
    shutil.rmtree(d, ignore_errors=True)


def test_auto_seen_routing_covers_all_strategies(spark, tmp_path,
                                                 oracle_state):
    """On constructed inputs auto must route to each of the two seen
    strategies (visible in lineage), and every route produces
    oracle-identical results."""
    import json as _json
    import os

    def strategies(d):
        out = []
        for w in range(CFG["n_waves"]):
            with open(os.path.join(d, f"wave={w:05d}",
                                   "_lineage.json")) as fh:
                out.append(_json.load(fh)["seen_strategy"])
        return out

    # 1. big seen + candidates under the ceiling -> broadcast from
    # wave 1 on. Wave 0 has NO links hint, and auto must never
    # broadcast without an affirmative volume prediction (a first
    # production wave's candidates are unbounded — the round-7 4M
    # bootstrap blew the 300 s broadcast-build timeout exactly here)
    d1 = str(tmp_path / "route_bcast")
    cfg = CrawlConfig(checkpoint_dir=d1, broadcast_seen_min=0, **CFG)
    assert crawl(spark, cfg)["metrics"] == oracle_state.metrics
    s1 = strategies(d1)
    assert s1[0] != "broadcast"
    assert set(s1[1:]) == {"broadcast"}

    # 2. over the candidate ceiling: broadcast is inadmissible on
    # every wave -> shuffle
    d2 = str(tmp_path / "route_shuffle")
    cfg = CrawlConfig(checkpoint_dir=d2, broadcast_seen_min=0,
                      broadcast_max_candidates=1, **CFG)
    assert crawl(spark, cfg)["metrics"] == oracle_state.metrics
    assert set(strategies(d2)) == {"shuffle"}

    for d in (d1, d2):
        shutil.rmtree(d, ignore_errors=True)


def test_crawl_restores_session_confs(spark, tmp_path):
    """crawl() sets its session confs only for its own duration: after
    a normal return AND after a raise (a resume with mismatched
    partitions), every conf is back to the caller's value — the
    explicitly set ones to their sentinel, the unset ones to the
    default."""
    from cuphic_spark.frontier.crawl import _SESSION_CONFS

    keys = [k for k, _ in _SESSION_CONFS]
    saved = {k: spark.conf.get(k, None) for k in keys}
    sentinels = {"spark.sql.adaptive.enabled": "true",
                 "spark.sql.broadcastTimeout": "123"}
    kw = dict(universe=500, n_seeds=4, budget_per_host=4, wave_cap=8)
    d = str(tmp_path / "confs")
    try:
        for k in keys:
            spark.conf.unset(k)
        want = {k: spark.conf.get(k, None) for k in keys}
        for k, v in sentinels.items():
            spark.conf.set(k, v)
        want.update(sentinels)
        # every conf the crawl sets differs from the caller's value
        assert all(want[k] != v for k, v in _SESSION_CONFS)

        crawl(spark, CrawlConfig(checkpoint_dir=d, partitions=4,
                                 n_waves=1, **kw))
        assert {k: spark.conf.get(k, None) for k in keys} == want
        with pytest.raises(ValueError, match="partitions mismatch"):
            crawl(spark, CrawlConfig(checkpoint_dir=d, partitions=8,
                                     n_waves=2, **kw))
        assert {k: spark.conf.get(k, None) for k in keys} == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(d, ignore_errors=True)


def test_crawl_cli_runs_no_single_partition_window(tmp_path):
    """Every window in a wave is partitioned: a crawl CLI run (Spark
    logs at WARN) prints no "No Partition Defined" WindowExec warning,
    which Spark emits once per unpartitioned window it plans."""
    import json as _json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "cuphic_spark.frontier.crawl",
         "--universe", "500", "--seeds", "8", "--wave-cap", "16",
         "--waves", "2", "--partitions", "4", "--cores", "2",
         "--checkpoint-dir", str(tmp_path / "cli")],
        cwd=root, capture_output=True, text=True, timeout=600,
        env={**os.environ, "CUPHIC_DRIVER_MEM": "1g"})
    assert out.returncode == 0, out.stderr[-3000:]
    summary = _json.loads(out.stdout[out.stdout.index("{"):])
    assert [m["scheduled"] > 0 for m in summary["metrics"]] == [True] * 2
    assert "No Partition Defined" not in out.stderr


def test_plan_read_properties_and_oracle_mirror():
    """Randomized pin of the read plan's invariants AND its oracle
    mirror: for arbitrary segment layouts and needs, bands.plan_read
    and the oracle's _plan must agree exactly (consumed seqs, score
    cut, rows_read, exhaustion), the consumed set must be closure-
    complete (every segment overlapping the cut is consumed), and
    plans must be monotone in need (a larger need consumes a
    superset) — the property the extension loop relies on."""
    import random

    from cuphic_spark.frontier import bands
    from tests.oracle import crawl_oracle

    rng = random.Random(42)
    for trial in range(200):
        width = rng.choice([10, 100, 1000])
        n_bands = rng.randint(1, 4)
        manifest = {"band_width": width, "partitions": 4,
                    "band_split_rows": 8, "next_seq": 0, "bands": {}}
        oracle_segs = {}
        seq = 0
        for b in rng.sample(range(0, 20), n_bands):
            segs = []
            for _ in range(rng.randint(1, 5)):
                lo = b * width + rng.randrange(width)
                hi = min(b * width + width - 1,
                         lo + rng.randrange(width))
                segs.append({"paths": [f"/p{seq}"],
                             "count": rng.randint(1, 50),
                             "lo": lo, "hi": hi, "seq": seq})
                seq += 1
            manifest["bands"][str(b)] = {
                "count": sum(s["count"] for s in segs),
                "paths": [s["paths"][0] for s in segs],
                "segments": segs}
            oracle_segs[b] = [dict(s, urls=[]) for s in segs]
        total = bands.manifest_total(manifest)
        needs = sorted({rng.randint(1, total + 10), rng.randint(1, total + 10)})

        prev_keys = None
        for need in needs:
            plan = bands.plan_read(manifest, need)
            consumed, s_cut, rows, exhausted = crawl_oracle._plan(
                oracle_segs, width, need)
            # 1. exact oracle mirror
            assert plan.consumed_keys() == {
                (b, s["seq"]) for b, segs in consumed.items()
                for s in segs}, trial
            assert (plan.s_cut, plan.rows_read, plan.exhausted) == \
                (s_cut, rows, exhausted), trial
            # 2. bookkeeping: rows_read = sum of consumed counts
            assert plan.rows_read == sum(
                s["count"] for segs in plan.consumed.values()
                for s in segs), trial
            # 3. closure: every segment with hi >= s_cut is consumed
            keys = plan.consumed_keys()
            for b in manifest["bands"]:
                for s in manifest["bands"][b]["segments"]:
                    if s["hi"] >= plan.s_cut:
                        assert (int(b), s["seq"]) in keys, (trial, b, s)
            # 4. coverage: enough rows unless the manifest ran dry
            assert plan.rows_read >= need or plan.exhausted, trial
            # 5. monotone in need
            if prev_keys is not None:
                assert prev_keys <= keys, trial
            prev_keys = keys


def test_resume_band_split_mismatch_raises(spark, tmp_path):
    """Resuming with a different run size must fail loudly: the read
    protocol (and its oracle) is a function of the run layout."""
    d = str(tmp_path / "resume_split")
    cfg = CrawlConfig(checkpoint_dir=d, **{**CFG, "n_waves": 2})
    crawl(spark, cfg)

    bad = CrawlConfig(checkpoint_dir=d, band_split_rows=7, **CFG)
    with pytest.raises(ValueError, match="band_split_rows mismatch"):
        crawl(spark, bad)

    good = CrawlConfig(checkpoint_dir=d, **CFG)
    summary = crawl(spark, good)
    assert summary["start_wave"] == 2
    shutil.rmtree(d, ignore_errors=True)


def test_robots_ttl_with_subband_layout_matches_matched_oracle(
        spark, tmp_path):
    """Advisor round-3 caveat, pinned: with robots TTL epochs the
    wave in which a denied row drops depends on when its segment is
    first read, so denied counts are LAYOUT-dependent — the crawl
    must still match an oracle run at the SAME (ttl, run-size)
    layout exactly."""
    kw = dict(universe=5000, n_seeds=12, budget_per_host=4, wave_cap=24,
              n_waves=3)
    d = str(tmp_path / "ttl_split")
    cfg = CrawlConfig(checkpoint_dir=d, robots_ttl_waves=1,
                      band_split_rows=8, **kw)
    summary = crawl(spark, cfg)
    oracle = crawl_oracle.run(robots_ttl_waves=1, band_split_rows=8,
                              **kw)
    assert summary["metrics"] == oracle.metrics
    log = read_fetch_log(spark, cfg).orderBy("wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle.fetch_log]
    shutil.rmtree(d, ignore_errors=True)


def test_rescore_frontier_noop_and_repriorities(spark, tmp_path,
                                                oracle_state):
    """Frontier re-prioritization (offline maintenance, like
    compact_seen): (a) rescoring with the IDENTITY expression is a
    semantic no-op — the resumed crawl reproduces the uninterrupted
    oracle byte-for-byte; (b) rescoring with an inverted priority
    makes the next wave schedule exactly the politeness-budgeted
    top-cap under the NEW scores (computed independently in plain
    Python over the as-of read)."""
    from cuphic_spark.frontier.snapshots import (
        read_frontier_asof,
        rescore_frontier,
    )

    # (a) identity rescore between waves changes nothing
    d1 = str(tmp_path / "rescore_noop")
    cfg = CrawlConfig(checkpoint_dir=d1, **{**CFG, "n_waves": 2})
    crawl(spark, cfg)
    info = rescore_frontier(spark, cfg, F.col("score"))
    assert info["rows"] > 0
    summary = crawl(spark, CrawlConfig(checkpoint_dir=d1, **CFG))
    assert summary["start_wave"] == 2
    log = read_fetch_log(
        spark, CrawlConfig(checkpoint_dir=d1, **CFG)).orderBy(
        "wave", "rank_in_wave").collect()
    assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
        [(e["wave"], e["rank_in_wave"], e["url"])
         for e in oracle_state.fetch_log]
    shutil.rmtree(d1, ignore_errors=True)

    # (b) inverted priority actually re-orders the next wave
    d2 = str(tmp_path / "rescore_inv")
    cfg = CrawlConfig(checkpoint_dir=d2, **{**CFG, "n_waves": 2})
    crawl(spark, cfg)
    rescore_frontier(spark, cfg, F.lit(20000) - F.col("score"))
    pending = {r.url: r.score
               for r in read_frontier_asof(spark, cfg, 1).collect()}
    # independent expectation: robots filter + per-host budget +
    # global top-cap under (new score desc, url asc)
    budgeted, per_host = [], {}
    for url in sorted(pending, key=lambda u: (-pending[u], u)):
        if crawl_oracle.robots_deny(url):
            continue
        h = crawl_oracle.host_of_url(url)
        if per_host.get(h, 0) < CFG["budget_per_host"]:
            per_host[h] = per_host.get(h, 0) + 1
            budgeted.append(url)
    expected = budgeted[:CFG["wave_cap"]]

    summary = crawl(spark, CrawlConfig(checkpoint_dir=d2, **CFG))
    assert summary["start_wave"] == 2
    w2 = (read_fetch_log(spark, CrawlConfig(checkpoint_dir=d2, **CFG))
          .where(F.col("wave") == 2).orderBy("rank_in_wave").collect())
    assert [r.url for r in w2] == expected
    # and the inverted order genuinely differs from the unrescored run
    assert expected != [e["url"] for e in oracle_state.fetch_log
                        if e["wave"] == 2]
    shutil.rmtree(d2, ignore_errors=True)

    # negative scores refuse loudly (banding contract)
    d3 = str(tmp_path / "rescore_neg")
    cfg = CrawlConfig(checkpoint_dir=d3, **{**CFG, "n_waves": 1})
    crawl(spark, cfg)
    with pytest.raises(ValueError, match="NEGATIVE"):
        rescore_frontier(spark, cfg, F.col("score") - F.lit(10 ** 9))
    # NULL scores refuse with the SAME loud error (advisory pin:
    # `score < 0` is NULL for nulls, which would sail past a bare
    # negative guard and crash deep in bands._with_runs after a
    # partial partitionBy write)
    with pytest.raises(ValueError, match="NULL"):
        rescore_frontier(
            spark, cfg,
            F.when(F.col("score") > F.lit(10 ** 18), F.col("score")))
    shutil.rmtree(d3, ignore_errors=True)


def test_legacy_manifest_segment_seq_no_collision(spark, tmp_path):
    """Review finding: a pre-split (legacy) manifest entry adapts to
    a whole-band segment whose seq must NOT collide with the first
    new run appended to the same band (both were seq 0 — consuming
    one then dropped BOTH from the carried manifest, silently losing
    the other's rows)."""
    from cuphic_spark.frontier import bands

    cfg = CrawlConfig(partitions=2, band_width=1000,
                      band_split_rows=1000)
    base = spark.range(20).selectExpr(
        "concat('https://h', id % 3, '.example/doc/', id) as url",
        "concat('h', id % 3, '.example') as host",
        "cast(1 as int) as depth",
        "cast(5000 + id % 7 as long) as score",
        "cast(1 as int) as discovered_wave")
    d0 = str(tmp_path / "legacy0")
    manifest, _ = bands.write_wave_frontier(
        spark, base, d0, cfg, bands.empty_manifest(cfg), [])
    # flatten to the legacy (round-3) format: bare paths + count
    legacy = {"band_width": 1000, "partitions": 2,
              "bands": {b: {"paths": v["paths"], "count": v["count"]}
                        for b, v in manifest["bands"].items()}}

    # a new delta lands in the SAME band
    delta = spark.range(10).selectExpr(
        "concat('https://new.example/doc/', id) as url",
        "'new.example' as host", "cast(2 as int) as depth",
        "cast(5100 + id % 7 as long) as score",
        "cast(2 as int) as discovered_wave")
    d1 = str(tmp_path / "legacy1")
    m2, _ = bands.write_wave_frontier(spark, delta, d1, cfg, legacy, [])
    segs = bands.band_segments(m2, 5)
    seqs = [(5, s["seq"]) for s in segs]
    assert len(seqs) == len(set(seqs)) == 2, seqs  # distinct keys

    # a whole-band legacy segment spans the band's full score range,
    # so the closure rule consumes the ENTIRE band whenever the plan
    # touches it — consumed-key filtering must then drop exactly the
    # consumed segments (with duplicate (band, seq) keys it dropped
    # extras on any future protocol change); totals stay exact
    plan = bands.plan_read(m2, 5)
    assert {(5, s["seq"]) for s in plan.consumed[5]} == set(seqs)
    residual = bands.read_plan_df(spark, m2, plan)
    d2 = str(tmp_path / "legacy2")
    m3, _ = bands.write_wave_frontier(spark, residual, d2, cfg, m2, plan)
    assert bands.manifest_total(m3) == 30  # nothing silently lost
    assert bands.read_full_frontier(spark, m3).count() == 30
    assert bands.read_full_frontier(
        spark, m3).select("url").distinct().count() == 30


def test_rescore_twice_before_next_wave(spark, tmp_path):
    """Review finding: a second rescore before the next wave must not
    read and overwrite the same directory in one job — each rescore
    writes a fresh versioned dir; content stays intact."""
    from cuphic_spark.frontier.snapshots import (
        read_frontier_asof,
        rescore_frontier,
    )

    d = str(tmp_path / "rescore_twice")
    cfg = CrawlConfig(checkpoint_dir=d, **{**CFG, "n_waves": 1})
    crawl(spark, cfg)
    before = {r.url for r in read_frontier_asof(spark, cfg, 0).collect()}
    i1 = rescore_frontier(spark, cfg, F.col("score") + F.lit(1))
    i2 = rescore_frontier(spark, cfg, F.col("score") + F.lit(1))
    i3 = rescore_frontier(spark, cfg, F.col("score") + F.lit(1))
    assert len({i1["out_dir"], i2["out_dir"], i3["out_dir"]}) == 3
    after = {r.url: r.score
             for r in read_frontier_asof(spark, cfg, 0).collect()}
    assert set(after) == before  # every pending url survived
    # bounded retention: only the live version + its predecessor stay
    import os as _os

    assert not _os.path.isdir(i1["out_dir"])
    assert _os.path.isdir(i2["out_dir"]) and _os.path.isdir(i3["out_dir"])
    shutil.rmtree(d, ignore_errors=True)


def test_crawl_config_fuzz_vs_oracle(spark, tmp_path):
    """Seeded random-config sweep: the crawl must equal the
    config-matched oracle for arbitrary combinations of wave cap,
    politeness budget, band width, run size, partition count, and
    robots TTL — the interactions (tiny caps x dense splits x
    extension loop x exhaustion x epoch rotation) are where layout
    bugs would hide."""
    import random

    rng = random.Random(20260817)
    for trial in range(6):
        kw = dict(universe=rng.choice([300, 2000, 8000]),
                  n_seeds=rng.randint(3, 20),
                  budget_per_host=rng.randint(1, 6),
                  wave_cap=rng.choice([3, 11, 40]),
                  n_waves=rng.randint(2, 4))
        extra = dict(band_width=rng.choice([3, 200, 1000, 20000]),
                     band_split_rows=rng.choice([0, 5, 17, 10_000]),
                     robots_ttl_waves=rng.choice([0, 0, 1, 2]),
                     n_hosts=rng.choice([10, 10, 137]))
        d = str(tmp_path / f"fuzz{trial}")
        cfg = CrawlConfig(checkpoint_dir=d,
                          partitions=rng.choice([2, 8]),
                          **kw, **extra)
        summary = crawl(spark, cfg)
        oracle = crawl_oracle.run(**kw, **extra)
        assert summary["metrics"] == oracle.metrics, (trial, kw, extra)
        log = read_fetch_log(spark, cfg).orderBy(
            "wave", "rank_in_wave").collect()
        assert [(r.wave, r.rank_in_wave, r.url) for r in log] == \
            [(e["wave"], e["rank_in_wave"], e["url"])
             for e in oracle.fetch_log], (trial, kw, extra)
        shutil.rmtree(d, ignore_errors=True)


def test_seed_score_counts_closed_form(spark):
    """_seed_score_counts (the bootstrap's run-map precount) must
    equal the Spark-derived per-score histogram of seed_frontier for
    any n_seeds — including n_seeds < 7."""
    from cuphic_spark.frontier.crawl import (
        _seed_score_counts,
        seed_frontier,
    )

    for n in (1, 3, 6, 7, 8, 200, 1013):
        cfg = CrawlConfig(n_seeds=n, universe=max(n, 10),
                          budget_per_host=4, wave_cap=8, n_waves=1)
        got = _seed_score_counts(cfg)
        want = sorted(
            (int(r.score), int(r.cnt))
            for r in seed_frontier(spark, cfg)
            .groupBy("score").agg(F.count("*").alias("cnt")).collect())
        assert got == want, n


def test_write_wave_frontier_precounts_identical(spark, tmp_path):
    """Caller-supplied score_counts must produce the identical layout,
    manifest and bytes as the counts write_wave_frontier collects
    itself when none are given — same files, same (band, run) split,
    same row order."""
    import os

    from cuphic_spark.frontier import bands

    cfg = CrawlConfig(partitions=4, band_width=1000,
                      band_split_rows=700)
    base = spark.range(5_000).selectExpr(
        "concat('https://host', id % 20, '.example/doc/', id) as url",
        "concat('host', id % 20, '.example') as host",
        "cast(1 as int) as depth",
        "cast((4 - id % 5) * 1000 + id % 7 as long) as score",
        "cast(1 as int) as discovered_wave")
    counts = sorted(
        (int(r.score), int(r.cnt)) for r in
        base.groupBy("score").agg(F.count("*").alias("cnt")).collect())

    d_ref = str(tmp_path / "ref")
    m_ref, w_ref = bands.write_wave_frontier(
        spark, base, d_ref, cfg, bands.empty_manifest(cfg), [])
    d_pre = str(tmp_path / "pre")
    m_pre, w_pre = bands.write_wave_frontier(
        spark, base, d_pre, cfg, bands.empty_manifest(cfg), [],
        score_counts=counts)

    assert w_pre == w_ref

    def norm(m, root):
        out = dict(m)
        out["bands"] = {
            b: {"count": e["count"],
                "segments": [{**s, "paths": [os.path.relpath(p, root)
                                             for p in s["paths"]]}
                             for s in e["segments"]],
                "paths": [os.path.relpath(p, root) for p in e["paths"]]}
            for b, e in m["bands"].items()}
        return out

    assert norm(m_pre, d_pre) == norm(m_ref, d_ref)
    ref_rows = bands.read_full_frontier(spark, m_ref).orderBy(
        "url").collect()
    pre_rows = bands.read_full_frontier(spark, m_pre).orderBy(
        "url").collect()
    assert pre_rows == ref_rows


def test_memo_cols_reuses_within_session(spark):
    """_memo_cols must build a wave-invariant Column tree once per
    (key, SparkContext) and hand back the same JVM expression object
    on every later wave/leg — and a changed key (e.g. the scoring
    function identity baked into the new-row key) must rebuild."""
    from cuphic_spark.frontier import crawl as crawl_mod

    calls = []

    def build():
        calls.append(1)
        return F.lit(41) + F.lit(1)

    key = ("test_memo", 7)
    crawl_mod._COL_MEMO.pop(key, None)
    a = crawl_mod._memo_cols(key, build)
    b = crawl_mod._memo_cols(key, build)
    assert a is b and len(calls) == 1
    other = crawl_mod._memo_cols(("test_memo", 8), build)
    assert other is not a and len(calls) == 2
    # the memoized Column is usable in multiple plans
    assert spark.range(1).select(a.alias("x")).collect()[0].x == 42
    assert spark.range(2).select(a.alias("x")).count() == 2
    crawl_mod._COL_MEMO.pop(key, None)
    crawl_mod._COL_MEMO.pop(("test_memo", 8), None)


def test_memo_cols_concurrent_builds_and_evictions(monkeypatch):
    """run_wave's pool threads call _memo_cols alongside the main
    thread: under a tiny switch interval, with more threads than cores
    and a key space that keeps the memo at its bound (stale-context
    entries included), every call returns its own key's value and no
    thread dies mid-eviction."""
    import sys
    import threading

    from cuphic_spark.frontier import crawl as crawl_mod

    memo = {("stale", i): (object(), i) for i in range(4000)}
    monkeypatch.setattr(crawl_mod, "_COL_MEMO", memo)
    errors, wrong = [], []

    def hammer(t):
        try:
            for i in range(3000):
                key = ("k", (t * 7919 + i) % 6000)
                if crawl_mod._memo_cols(key, lambda: key) != key:
                    wrong.append(key)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,))
                   for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(prior)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and wrong == []
    assert 0 < len(memo) <= 4096


def test_extension_round_surfaces_discarded_layout_failure(
        spark, tmp_path, monkeypatch):
    """An extension round discards the wave's provisional layout build:
    the build is cancelled or awaited before the re-plan, and a failure
    inside it is warned about instead of dying unread with its future.
    The crawl still matches the oracle."""
    import threading

    from cuphic_spark.frontier import bands

    kw = dict(CFG, budget_per_host=1, band_width=3)  # wave 2 extends
    needs, raised = [], []
    real_plan, real_prep = bands.plan_read, bands._prep_delta

    def plan_read(manifest, need):
        needs.append(need)
        return real_plan(manifest, need)

    def prep_delta(*a, **k):
        # the pool-side layout build over wave 2's first read plan
        if (len(needs) == 3 and not raised
                and threading.current_thread()
                is not threading.main_thread()):
            raised.append(1)
            raise RuntimeError("provisional layout build failed")
        return real_prep(*a, **k)

    monkeypatch.setattr(bands, "plan_read", plan_read)
    monkeypatch.setattr(bands, "_prep_delta", prep_delta)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ext"), **kw)
    with pytest.warns(UserWarning, match="discarded layout build failed"):
        summary = crawl(spark, cfg)
    assert raised and len(needs) == 4 and needs[3] > needs[2]
    assert summary["metrics"] == crawl_oracle.run(**kw).metrics
