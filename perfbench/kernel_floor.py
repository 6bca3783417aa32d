"""Kernel floor: the pure-Python kernel entry points timed in this
process, on a fixed page sample, with no Spark and no Arrow boundary.

Each op's share of Spark task time the kernel cannot explain is then
``outside_kernel_frac = 1 - pages * floor_us / task_run_us``.
"""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq

from cuphic_spark.kernel import reader
from cuphic_spark.kernel.match import Matcher
from cuphic_spark.kernel.scan import scan
from cuphic_spark.kernel.template import make_transformer, rewrite
from cuphic_spark.kernel.xmlparse import extract_text_streaming, parse

SAMPLE_PAGES = 256
REPS = 5


def load_sample(pages_dir: str) -> list[bytes]:
    """Pages with the lowest ids: the same sample whatever the seed's
    file layout."""
    t = pq.read_table(pages_dir, columns=["uid", "html"],
                      filters=[("uid", "<", SAMPLE_PAGES)])
    rows = sorted(zip(t.column("uid").to_pylist(),
                      t.column("html").to_pylist()))
    if len(rows) != SAMPLE_PAGES:
        raise RuntimeError(f"kernel sample has {len(rows)} pages, "
                           f"expected {SAMPLE_PAGES}")
    return [html for _uid, html in rows]


def _us_per_page(fn, items) -> float:
    """Median over REPS passes of the sample, in microseconds per page."""
    legs = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        legs.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(legs)


def measure(pages_dir: str, patterns: dict[str, str],
            stages: list[list[tuple[str, str]]]) -> dict[str, float]:
    htmls = load_sample(pages_dir)
    trees = [parse(h) for h in htmls]
    matchers = [Matcher(reader.parse(p)) for p in patterns.values()]
    compiled = [{"transformers": [make_transformer(reader.parse(f),
                                                   reader.parse(t))
                                  for f, t in stage]}
                for stage in stages]
    return {
        "kernel.extract_us_per_page": _us_per_page(extract_text_streaming,
                                                   htmls),
        "kernel.parse_us_per_page": _us_per_page(parse, htmls),
        "kernel.scan_us_per_page": _us_per_page(
            lambda t: list(scan(t, *matchers)), trees),
        "kernel.rewrite_us_per_page": _us_per_page(
            lambda t: rewrite(t, *compiled), trees),
    }
