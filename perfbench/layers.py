"""Per-layer metrics of a traced run.

Sources: the untraced half's raw legs (per-op rates, run CPU), the
traced half's event log (per-op and per-wave Spark time, bytes and
Python-boundary metrics), the crawl's returned summary and its
``_lineage.json`` files, and the in-process kernel floor. A metric of
a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import EventLog

# kernel entry points inside each Arrow-boundary op
_KERNEL_OF_OP = {
    "extract_text": ("kernel.extract_us_per_page",),
    "scrape_kernel": ("kernel.parse_us_per_page", "kernel.scan_us_per_page"),
    "rewrite": ("kernel.parse_us_per_page", "kernel.rewrite_us_per_page"),
}
_RATE_OF_OP = {
    "extract_text": "extract_pages_per_s",
    "scrape_kernel": "scrape_kernel_pages_per_s",
    "scrape_relational": "scrape_relational_matches_per_s",
    "rewrite": "rewrite_pages_per_s",
    "minhash": "minhash_pages_per_s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _rate(log: dict, op: str) -> float:
    return _median(log["op_items"][op]) / _median(log["op_s"][op])


def _unattributed(ev: EventLog, spans, jobs) -> float:
    wall = sum(e1 - e0 for _n, e0, e1 in spans)
    covered = sum(ev.covered_s(jobs, e0, e1) for _n, e0, e1 in spans)
    return 1 - covered / wall if wall else 0.0


def _extract_layers(wl, untraced, traced, floor, ev) -> dict:
    out = dict(floor)
    layers = untraced["setup_layers"]
    for key in ("sources.pagegen.materialize_s",
                "operators.parse.pages_to_nodes_s"):
        out[key] = _median(layers.get(key, []))
    for op, name in _RATE_OF_OP.items():
        out[name] = _rate(untraced, op)
    out["extract_pass_s"] = _median(untraced["pass_s"])
    per_op = {}
    for op in traced["op_s"]:
        jobs = ev.group_jobs(op)
        n = len(traced["op_s"][op])
        tot = {k: v / n for k, v in ev.totals(jobs).items()}
        per_op[op] = tot
        spans = [s for s in traced["spans"] if s[0] == op]
        out[f"{op}.unattributed_frac"] = _unattributed(ev, spans, jobs)
        tot["exchanges"] = ev.exchanges(jobs) / n
    for op, kernels in _KERNEL_OF_OP.items():
        t = per_op[op]
        run_s = t["run_ms"] / 1e3
        kernel_s = wl.n_pages * sum(floor[k] for k in kernels) / 1e6
        out[f"{op}.cpu_s"] = t["cpu_ns"] / 1e9
        out[f"{op}.python_s"] = t["py_ms"] / 1e3
        out[f"{op}.arrow_bytes_in"] = t["py_sent_bytes"]
        out[f"{op}.arrow_bytes_out"] = t["py_recv_bytes"]
        out[f"{op}.outside_kernel_frac"] = (1 - kernel_s / run_s
                                            if run_s else 0.0)
    rel = per_op["scrape_relational"]
    out["compiler.match_nodes.cpu_s"] = rel["cpu_ns"] / 1e9
    out["compiler.match_nodes.shuffle_bytes"] = rel["shuffle_bytes"]
    out["compiler.match_nodes.exchanges"] = rel["exchanges"]
    mh = per_op["minhash"]
    out["operators.dedup.minhash.cpu_s"] = mh["cpu_ns"] / 1e9
    out["operators.dedup.minhash.python_s"] = mh["py_ms"] / 1e3
    out["operators.dedup.minhash.shuffle_bytes"] = mh["shuffle_bytes"]
    out["operators.similarity.ann_topk.wall_s"] = _median(
        traced["op_s"]["ann_topk"])
    out["operators.similarity.ann_topk.jobs"] = per_op["ann_topk"]["jobs"]
    return out


def _wave_rows(ev: EventLog, rec: dict) -> tuple[list[dict], float, float]:
    """Per-wave spans and Spark totals of one traced crawl call, plus
    its bootstrap seconds and the share of its wall no phase covers.

    The crawl records each wave's phase durations; the wave's frontier
    manifest mtime marks where its last phase ended."""
    c0, c1 = rec["span"]
    crawl_jobs = [j for j in ev.jobs.values() if j["group"] in (None, "crawl")]
    rows = []
    for tt, end, m in zip(rec["summary"]["timings"], rec["wave_end"],
                          rec["summary"]["metrics"]):
        schedule = tt["bloom_build"] + tt["schedule"] + tt["prev_wave_drain"]
        fetch_commit = tt["seen_frontier_cuckoo"]
        start = end - schedule - fetch_commit
        jobs = ev.window_jobs(start, end, groups=(None, "crawl"))
        tot = ev.totals(jobs)
        rows.append({
            "start": start, "end": end, "metrics": m,
            "frontier.crawl.schedule_s": schedule,
            "frontier.crawl.fetch_commit_s": fetch_commit,
            "frontier.crawl.driver_gap_s": (
                end - start - ev.covered_s(crawl_jobs, start, end)),
            "frontier.crawl.jobs_per_wave": tot["jobs"],
            "frontier.crawl.cpu_s_per_wave": tot["cpu_ns"] / 1e9,
            "frontier.crawl.shuffle_bytes_per_wave": tot["shuffle_bytes"],
            "frontier.crawl.spill_bytes_per_wave": (
                tot["spill_mem_bytes"] + tot["spill_disk_bytes"]),
            "frontier.crawl.fetch.python_s": tot["py_ms"] / 1e3,
        })
    bootstrap = rows[0]["start"] - c0
    # after the last wave: its deferred fetch_log drain + lineage commit
    tail = rec["summary"]["timings"][-1].get("fetch_log_drain", 0.0)
    phased = bootstrap + sum(r["end"] - r["start"] for r in rows) + tail
    return rows, bootstrap, 1 - phased / (c1 - c0)


def _crawl_layers(wl, untraced, traced, ev) -> dict:
    out = {"frontier.crawl.checkpoint_build_s": _median(
        untraced["setup_layers"].get("frontier.crawl.checkpoint_build_s",
                                     []))}
    out["crawl_urls_per_s"] = _rate(untraced, "crawl")
    last = wl.history[-1]
    out["checkpoint_bytes_per_url"] = last["bytes_added"] / last["scheduled"]
    spans = [s for s in traced["spans"] if s[0] == "crawl"]
    recs = [r for r in wl.history
            if any(e0 <= r["span"][0] and r["span"][1] <= e1
                   for _n, e0, e1 in spans)]
    rows, boots, unattributed = [], [], []
    for rec in recs:
        r, b, u = _wave_rows(ev, rec)
        rows += r
        boots.append(b)
        unattributed.append(u)
    out["frontier.crawl.bootstrap_s"] = _median(boots)
    out["crawl.unattributed_frac"] = _median(unattributed)
    for key in rows[0]:
        if key.startswith("frontier."):
            out[key] = _median([r[key] for r in rows])
    ms = [r["metrics"] for r in rows]

    def med(key):
        return _median([float(m.get(key, 0) or 0) for m in ms])

    out["frontier.crawl.scheduled"] = med("scheduled")
    out["frontier.crawl.denied"] = med("denied")
    out["frontier.crawl.links_distinct"] = med("links_distinct")
    out["frontier.crawl.pages_dropped"] = med("pages_dropped")
    out["frontier.seen.new_urls"] = med("new_urls")
    out["frontier.seen.yield"] = _median(
        [m["new_urls"] / m["links_distinct"] for m in ms
         if m["links_distinct"]])
    out["frontier.seen.bloom_est_fp"] = med("bloom_est_fp")
    out["frontier.seen.cuckoo_probed_waves"] = _median(
        [sum(bool(lin["cuckoo_probe"]) for lin in rec["lineage"])
         for rec in recs])
    out["frontier.bands.rows_read"] = med("frontier_rows_read")
    out["frontier.bands.rows_written"] = med("frontier_rows_written")
    out["frontier.bands.read_amplification"] = _median(
        [m["frontier_rows_read"] / m["scheduled"] for m in ms
         if m["scheduled"]])
    out["frontier.bands.frontier_size"] = med("frontier_size")
    return out


def layer_metrics(wl, untraced: dict, traced: dict, floor, event_dir: str,
                  run_cpu_util: float, attempted: int, failed: int) -> dict:
    ev = EventLog(event_dir)
    out = {"session.start_s": untraced["start_s"]}
    out["run.cpu_util"] = run_cpu_util
    # used JVM heap and Spark's on-heap execution + storage memory: the
    # pre-touched heap hides both from the process tree's PSS
    out["run.jvm_heap_peak_gb"] = ev.peaks["JVMHeapMemory"] / 2**30
    out["run.unified_memory_peak_gb"] = ev.peaks["OnHeapUnifiedMemory"] / 2**30
    out["ops_failed_frac"] = failed / attempted
    out["trace.overhead_frac"] = (_median(traced["pass_s"])
                                  / _median(untraced["pass_s"]) - 1)
    if wl.name == "extract":
        out.update(_extract_layers(wl, untraced, traced, floor, ev))
    else:
        out.update(_crawl_layers(wl, untraced, traced, ev))
    return out
