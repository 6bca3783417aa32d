"""Repository benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver thread drives the package's
public functions on a local[nproc] Spark session; each timed op waits
for the previous one. The run sets up its inputs (several times, to
report a median set-up time), runs one untimed warm-up pass, then runs
timed passes until ``--seconds`` have elapsed and at least two passes
are done, and reports medians. ``setup_s`` is session start, the median
set-up and the warm-up pass. Every op's output is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: it runs half its passes untraced, restarts the
session with Spark's event log on and job groups around each public
call, runs the other half, and attributes the log offline.

The last stdout line is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the
full record (run metadata, every raw leg).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

WORK_DIR = ".perfbench_work"
DRIVER_MEM = "2g"
MIN_PASSES = 2
WARMUP_PASSES = 1
WORKLOADS = ("extract", "crawl_steady")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "throughput_per_s": "1/s",
    "cpu_s_per_pass": "s",
    "peak_pss_gb": "GB",
}
_PARSE_OPS = ("extract_text", "scrape_kernel", "rewrite")
_EXTRACT_OPS = ("extract_text", "scrape_kernel", "scrape_relational",
                "rewrite", "minhash", "ann_topk")
PER_LAYER = {
    "session.start_s": "s",
    "sources.pagegen.materialize_s": "s",
    "operators.parse.pages_to_nodes_s": "s",
    "frontier.crawl.checkpoint_build_s": "s",
    "frontier.crawl.bootstrap_s": "s",
    "kernel.extract_us_per_page": "us",
    "kernel.parse_us_per_page": "us",
    "kernel.scan_us_per_page": "us",
    "kernel.rewrite_us_per_page": "us",
    **{f"{op}.{m}": u for op in _PARSE_OPS
       for m, u in (("cpu_s", "s"), ("python_s", "s"),
                    ("arrow_bytes_in", "B"), ("arrow_bytes_out", "B"),
                    ("outside_kernel_frac", "ratio"))},
    "compiler.match_nodes.cpu_s": "s",
    "compiler.match_nodes.shuffle_bytes": "B",
    "compiler.match_nodes.exchanges": "count",
    "operators.dedup.minhash.cpu_s": "s",
    "operators.dedup.minhash.python_s": "s",
    "operators.dedup.minhash.shuffle_bytes": "B",
    "operators.similarity.ann_topk.wall_s": "s",
    "operators.similarity.ann_topk.jobs": "count",
    "extract_pages_per_s": "1/s",
    "scrape_kernel_pages_per_s": "1/s",
    "scrape_relational_matches_per_s": "1/s",
    "rewrite_pages_per_s": "1/s",
    "minhash_pages_per_s": "1/s",
    "extract_pass_s": "s",
    "crawl_urls_per_s": "1/s",
    "checkpoint_bytes_per_url": "B",
    "ops_failed_frac": "ratio",
    "frontier.crawl.schedule_s": "s",
    "frontier.crawl.fetch_commit_s": "s",
    "frontier.crawl.driver_gap_s": "s",
    "frontier.crawl.jobs_per_wave": "count",
    "frontier.crawl.cpu_s_per_wave": "s",
    "frontier.crawl.shuffle_bytes_per_wave": "B",
    "frontier.crawl.spill_bytes_per_wave": "B",
    "frontier.crawl.fetch.python_s": "s",
    "frontier.crawl.scheduled": "count",
    "frontier.crawl.denied": "count",
    "frontier.crawl.links_distinct": "count",
    "frontier.crawl.pages_dropped": "count",
    "frontier.seen.new_urls": "count",
    "frontier.seen.yield": "ratio",
    "frontier.seen.bloom_est_fp": "ratio",
    "frontier.seen.cuckoo_probed_waves": "count",
    "frontier.bands.rows_read": "count",
    "frontier.bands.rows_written": "count",
    "frontier.bands.read_amplification": "ratio",
    "frontier.bands.frontier_size": "count",
    "run.cpu_util": "ratio",
    "run.jvm_heap_peak_gb": "GB",
    "run.unified_memory_peak_gb": "GB",
    "trace.overhead_frac": "ratio",
    **{f"{op}.unattributed_frac": "ratio" for op in _EXTRACT_OPS + ("crawl",)},
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 11 samples)."""
    out = {"n": len(xs), "median": _median(xs)}
    if len(xs) >= 11:
        p = math.floor(100 * (1 - 10 / len(xs)))
        out[f"p{p}"] = sorted(xs)[math.ceil(p / 100 * len(xs)) - 1]
    return out


def source_digest(root: str) -> str:
    """sha256 over the package sources (the checkout has no git)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "cuphic_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # a plain checkout: do not let git search its parents
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``.

    The driver heap is fixed and pre-touched at start, so the process
    tree's memory does not follow the timing of heap growth and GC: it
    moves with off-heap, driver-Python and Python-worker memory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (f'--conf "spark.driver.extraJavaOptions='
                                f'{driver_opts}" pyspark-shell'),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "CUPHIC_DRIVER_MEM": DRIVER_MEM,
        "CUPHIC_WAREHOUSE": os.path.join(work, "warehouse"),
    })


def open_session(cores: int, event_dir: str | None = None):
    """get_spark at local[cores]; the event log, when asked for, is
    switched on from here through the JVM's system properties, which
    every new SparkContext loads."""
    from pyspark import SparkContext

    from cuphic_spark.session import get_spark

    if SparkContext._jvm is not None:
        props = {"spark.eventLog.enabled": "true" if event_dir else "false"}
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            props["spark.eventLog.dir"] = "file://" + event_dir
            props["spark.eventLog.compress"] = "false"
            props["spark.eventLog.rolling.enabled"] = "false"
            props["spark.eventLog.logStageExecutorMetrics"] = "true"
            # memory peaks are otherwise sampled only at heartbeats (10 s)
            props["spark.executor.metrics.pollingInterval"] = "200ms"
        for k, v in props.items():
            SparkContext._jvm.java.lang.System.setProperty(k, v)
    elif event_dir:
        raise RuntimeError("the traced session must follow an untraced one")
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores)
    spark.range(1).count()  # the first job pays executor start-up
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM the session launched and wait for it: closing its
    stdin is how PySpark's gateway is told to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Timer:
    """Named wall-time legs (set-up sub-steps)."""

    def __init__(self):
        self.legs: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        yield
        self.legs.setdefault(name, []).append(time.perf_counter() - t0)


def run_passes(wl, spark, mem, seconds: float, min_passes: int,
               grouped: bool = False) -> dict:
    """Closed loop of full passes over the workload's ops. Returns raw
    legs: per-op seconds and items, per-pass seconds, tree CPU and peak
    tree PSS, epoch spans of every op, and failures."""
    from perfbench.proc import tree_cpu_s

    sc = spark.sparkContext
    log = {"op_s": {}, "op_items": {}, "pass_s": [], "pass_cpu_s": [],
           "pass_pss": [], "spans": [], "failures": [], "attempted": 0}
    deadline = time.perf_counter() + seconds
    while (len(log["pass_s"]) < min_passes
           or time.perf_counter() < deadline):
        wall = cpu = 0.0
        mem.take_peak()
        for name, prepare, fn in wl.ops():
            if prepare is not None:
                prepare()
            if grouped:
                sc.setJobGroup(name, name)
            c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
            try:
                items, bad = fn()
            except Exception as e:  # a failed op is counted, not fatal
                items, bad = 0, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            e1, c1 = time.time(), tree_cpu_s()
            if bad is None and items <= 0:
                bad = "empty output"
            log["attempted"] += 1
            if bad is not None:
                log["failures"].append(f"{name}: {bad}"[:500])
            log["op_s"].setdefault(name, []).append(dt)
            log["op_items"].setdefault(name, []).append(items)
            log["spans"].append((name, e0, e1))
            wall += dt
            cpu += c1 - c0
        log["pass_s"].append(wall)
        log["pass_cpu_s"].append(cpu)
        log["pass_pss"].append(mem.take_peak())
    return log


def make_workload(name: str, work: str, seed: int, cores: int):
    if name == "extract":
        from perfbench.extract import ExtractWorkload
        return ExtractWorkload(work, seed)
    from perfbench.crawls import CrawlSteady
    return CrawlSteady(work, seed, cores)


def throughput(log: dict) -> float:
    """Geometric mean over the pass's ops of items/s at each op's
    median: extract's six ops, or the crawl's URLs scheduled and
    extracted per second."""
    rates = [_median(log["op_items"][op]) / _median(log["op_s"][op])
             for op in log["op_s"]]
    if min(rates) <= 0:  # a failed op: the run is reported incorrect
        return 0.0
    return math.exp(sum(math.log(r) for r in rates) / len(rates))


def session_phase(wl, mem, cores: int, seconds: float,
                  event_dir=None, setup: bool = True) -> dict:
    """One Spark session: set-up (``wl.setup_reps`` times, or none to
    re-attach inputs already on disk), an untimed warm-up pass that
    pays the session's cold costs (code generation, JIT, Python worker
    start), then timed passes. The warm-up's ops are checked like any
    other, but run outside any job group."""
    spark, start_s = open_session(cores, event_dir)
    timer = Timer()
    setup_s = []
    try:
        for _ in range(wl.setup_reps if setup else 0):
            t0 = time.perf_counter()
            wl.setup(spark, timer)
            setup_s.append(time.perf_counter() - t0)
        wl.attach(spark)
        warm = run_passes(wl, spark, mem, 0, WARMUP_PASSES)
        log = run_passes(wl, spark, mem, seconds, MIN_PASSES,
                         grouped=event_dir is not None)
    finally:
        spark.stop()
    log["attempted"] += warm["attempted"]
    log["failures"] = warm["failures"] + log["failures"]
    log.update(start_s=start_s, setup_s=setup_s, setup_layers=timer.legs,
               warmup_s=warm["pass_s"])
    return log


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cuphic_spark", "__init__.py")):
        print("perfbench: no cuphic_spark package in the current directory;"
              " run from the repository root", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, cores)
    sys.path.insert(0, root)
    try:
        record = measure(args, root, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, WORK_DIR))
    print(json.dumps(record["record"], default=str))
    print(json.dumps(record["result"]))
    return 0


def measure(args, root: str, work: str, cores: int) -> dict:
    import pyarrow
    import pyspark

    from perfbench.proc import TreeSampler, cpu_ticks, tree_cpu_s

    wl = make_workload(args.workload, work, args.seed, cores)
    # a traced run splits its time between an untraced and a traced session
    seconds = args.seconds / 2 if args.trace else args.seconds
    with TreeSampler() as mem:
        try:
            cpu0, t0, ticks0 = tree_cpu_s(), time.perf_counter(), cpu_ticks()
            untraced = session_phase(wl, mem, cores, seconds)
            run_cpu_util = ((tree_cpu_s() - cpu0)
                            / ((time.perf_counter() - t0) * cores))
            steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
            traced = None
            if args.trace:
                floor = None
                if args.workload == "extract":
                    from perfbench import kernel_floor
                    from perfbench.extract import PATTERNS, REWRITE_STAGES
                    floor = kernel_floor.measure(wl.pages_dir, PATTERNS,
                                                 REWRITE_STAGES)
                event_dir = os.path.join(work, "eventlog")
                traced = session_phase(wl, mem, cores, seconds,
                                       event_dir, setup=False)
        finally:
            stop_jvm()
    logs = [untraced] + ([traced] if traced else [])
    attempted = sum(lg["attempted"] for lg in logs)
    failures = [f for lg in logs for f in lg["failures"]]
    if args.trace:
        from perfbench.layers import layer_metrics
        metrics = layer_metrics(wl, untraced, traced, floor,
                                os.path.join(work, "eventlog"),
                                run_cpu_util, attempted, len(failures))
        unknown = set(metrics) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {unknown}")
        # layers this workload does not exercise read 0
        metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": (untraced["start_s"] + _median(untraced["setup_s"])
                        + sum(untraced["warmup_s"])),
            "pass_s": _median(untraced["pass_s"]),
            "throughput_per_s": throughput(untraced),
            "cpu_s_per_pass": _median(untraced["pass_cpu_s"]),
            "peak_pss_gb": _median(untraced["pass_pss"]) / 2**30,
        }
        units = END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "seed_effect": wl.seed_effect,
        "nproc": cores, "master": f"local[{cores}]",
        "driver_memory": DRIVER_MEM, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
        "git_sha": git_sha(root), "source_sha256": source_digest(root),
        "run_cpu_util": run_cpu_util, "failures": failures,
        "host_steal_frac": steal / total if total else 0.0,
        "setup": {"session_start_s": untraced["start_s"],
                  "reps_s": untraced["setup_s"],
                  "warmup_pass_s": untraced["warmup_s"],
                  "layers_s": untraced["setup_layers"]},
        "legs": {lg_name: {"pass_s": lg["pass_s"],
                           "pass_cpu_s": lg["pass_cpu_s"],
                           "pass_pss_gb": [b / 2**30 for b in lg["pass_pss"]],
                           "op_s": {op: _tail(v)
                                    | {"raw": v}
                                    for op, v in lg["op_s"].items()}}
                 for lg_name, lg in (("untraced", untraced),
                                     ("traced", traced)) if lg},
        "metrics": metrics,
    }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    return {"record": record, "result": result}


if __name__ == "__main__":
    sys.exit(main())
