"""The `crawl_steady` workload: the wave loop's seen-set and frontier
state, with the cuckoo probe and the partial band reads on.

Set-up bootstraps a checkpoint with a fresh ``crawl()`` from 60k seeds
(the insert-heavy path: the seed writes and a first wave whose new URLs
are comparable to its candidates). Each timed pass resumes one small
wave from an identical copy of that checkpoint: the seen set is over
30 times the wave's distinct links, so the router probes the cuckoo
shards.

The synthetic web graph, the seeds and the scores are closed forms of
the URL ids, so the seed cannot vary the input without changing the
workload's shape: ``--seed`` has no effect, and the resumed wave's
counters are pinned below.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from cuphic_spark.frontier.crawl import CrawlConfig, crawl

SEED_EFFECT = "none: the crawl universe, seeds and scores are closed forms"


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def read_lineage(checkpoint_dir: str, wave: int) -> dict:
    with open(os.path.join(checkpoint_dir, f"wave={wave:05d}",
                           "_lineage.json")) as fh:
        return json.load(fh)


class CrawlSteady:
    name = "crawl_steady"
    seed_effect = SEED_EFFECT
    setup_reps = 2  # each rep is a full bootstrap crawl
    TEMPLATE_WAVES = 1
    TIMED_WAVES = 1
    # per resumed wave: (scheduled, new_urls, frontier_size, cuckoo probe)
    EXPECT = [(1000, 1741, 61050, True)]

    def __init__(self, work: str, seed: int, cores: int):
        self.seed = seed  # recorded only: see SEED_EFFECT
        self.partitions = max(cores, 8)
        self.template = os.path.join(work, "template")
        self.pass_dir = os.path.join(work, "pass")
        self.pass_bytes = 0  # the copy's size before the timed wave
        self.history: list[dict] = []  # one record per crawl pass

    def _cfg(self, checkpoint_dir: str, n_waves: int) -> CrawlConfig:
        return CrawlConfig(universe=2_000_000, n_seeds=60_000,
                           budget_per_host=65536, wave_cap=1000,
                           n_waves=n_waves, checkpoint_dir=checkpoint_dir,
                           partitions=self.partitions)

    def setup(self, spark, timer) -> None:
        shutil.rmtree(self.template, ignore_errors=True)
        with timer("frontier.crawl.checkpoint_build_s"):
            crawl(spark, self._cfg(self.template, self.TEMPLATE_WAVES))

    def attach(self, spark) -> None:
        self.spark = spark

    def prepare(self) -> None:
        """An identical copy of the template, its manifests re-pointed
        at the copy so the pass reads and writes only its own files."""
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        shutil.copytree(self.template, self.pass_dir)
        for base, _dirs, files in os.walk(self.pass_dir):
            for f in files:
                if f.endswith(".json"):
                    p = os.path.join(base, f)
                    with open(p) as fh:
                        text = fh.read()
                    with open(p, "w") as fh:
                        fh.write(text.replace(self.template, self.pass_dir))
        self.pass_bytes = dir_bytes(self.pass_dir)

    def run(self):
        cfg = self._cfg(self.pass_dir, self.TEMPLATE_WAVES + self.TIMED_WAVES)
        t0 = time.time()
        summary = crawl(self.spark, cfg)
        t1 = time.time()
        waves = summary["metrics"]
        lineage = [read_lineage(self.pass_dir, m["wave"]) for m in waves]
        scheduled = sum(int(m["scheduled"]) for m in waves)
        # a wave's frontier manifest is its last commit before the wave
        # loop moves on: its mtime anchors the wave's phase timings
        self.history.append({
            "span": (t0, t1), "summary": summary, "lineage": lineage,
            "scheduled": scheduled,
            "wave_end": [os.path.getmtime(lin["frontier_manifest"])
                         for lin in lineage],
            "bytes_added": dir_bytes(self.pass_dir) - self.pass_bytes})
        if summary["start_wave"] != self.TEMPLATE_WAVES:
            return scheduled, (f"resumed at wave {summary['start_wave']}, "
                               f"expected {self.TEMPLATE_WAVES}")
        got = [(int(m["scheduled"]), int(m["new_urls"]),
                int(m["frontier_size"]), bool(lin["cuckoo_probe"]))
               for m, lin in zip(waves, lineage)]
        if got != self.EXPECT:
            return scheduled, (f"per-wave (scheduled, new_urls, "
                               f"frontier_size, cuckoo_probe) {got} "
                               f"!= {self.EXPECT}")
        return scheduled, None

    def ops(self):
        """(name, prepare, run) per pass; prepare is untimed."""
        return [("crawl", self.prepare, self.run)]
