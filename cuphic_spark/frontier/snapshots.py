"""Checkpoint snapshot management: list / rollback / verify.

Wave checkpoints are immutable snapshot dirs with explicit lineage
(`_lineage.json`) — the same snapshot/rollback semantics Iceberg
provides via its catalog, kept catalog-free here.

Rollback = delete wave dirs above the target; the crawl then resumes
from the target wave deterministically (pinned: resumed ordering ==
fresh ordering, tests/test_frontier.py)."""

from __future__ import annotations

import json
import os
import shutil

from . import bands
from .crawl import (
    CrawlConfig,
    _drop_waves_above,
    _wave_dir,
    last_complete_wave,
)

COMPACT_DIRNAME = "seen_compact"


def _compact_marker(cfg: CrawlConfig) -> str:
    return os.path.join(cfg.checkpoint_dir, COMPACT_DIRNAME,
                        "_compact.json")


def read_compact_marker(cfg: CrawlConfig) -> dict | None:
    path = _compact_marker(cfg)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def compact_seen(spark, cfg: CrawlConfig, upto_wave: int | None = None) -> str:
    """Offline maintenance: merge the seed delta + per-wave seen
    deltas up to ``upto_wave`` into ONE partitioned snapshot, so the
    per-wave read is O(1) dirs + recent deltas instead of O(waves)
    dirs (at 10^10 urls / thousands of waves the delta-dir count is
    itself a scale problem: every wave's seen read lists and
    schema-merges each root).

    The raw deltas are KEPT — they remain the rollback source of
    truth; the compact is a read optimization recorded in
    ``_compact.json`` (readers use compact + deltas after its
    horizon). Re-compaction replaces the previous compact. Deleting
    raw deltas older than the rollback-retention horizon is left as
    an explicit retention decision, never implicit."""
    from .crawl import _partitioned_write, _seen_delta_paths, host_col
    from pyspark.sql import functions as F

    if upto_wave is None:
        upto_wave = last_complete_wave(cfg)
    if upto_wave < 0:
        raise ValueError("nothing to compact: no complete waves")
    seen = (spark.read.parquet(*_seen_delta_paths(cfg, upto_wave,
                                                  use_compact=False))
            .select("url", "added_wave"))
    out_dir = os.path.join(cfg.checkpoint_dir, COMPACT_DIRNAME,
                           f"upto={upto_wave:05d}")
    _partitioned_write(
        seen.withColumn("host", host_col(F.col("url")))
        .select("url", "added_wave", "host"),
        out_dir, cfg)
    marker = {"upto_wave": upto_wave, "path": out_dir,
              "partitions": cfg.partitions}
    bands.write_json_atomic(_compact_marker(cfg), marker)
    # prune superseded compacts (marker no longer references them)
    root = os.path.join(cfg.checkpoint_dir, COMPACT_DIRNAME)
    for name in os.listdir(root):
        d = os.path.join(root, name)
        if name.startswith("upto=") and d != out_dir and os.path.isdir(d):
            shutil.rmtree(d)
    return out_dir


def rescore_frontier(spark, cfg: CrawlConfig, new_score_col,
                     dim=None, dim_key: str = "url") -> dict:
    """Offline maintenance: RE-PRIORITIZE every pending url — the
    operation a real crawl runs when scheduling policy changes
    (domain quotas shift, a quality model updates, a depth penalty is
    retuned). Reads the last complete wave's frontier through its
    manifest, recomputes ``score`` from ``new_score_col`` (a Column
    over url/host/depth/score/discovered_wave), and rewrites the
    frontier as fresh band/run-partitioned files + manifest.

    Deliberately O(|frontier|) — like ``compact_seen`` this is an
    explicit offline maintenance job, never part of the wave loop
    (waves stay O(rows_read + new)). The swap is rollback-safe: the
    previous manifest is archived next to the new one
    (``_frontier_manifest.json.pre_rescore``) and the old band files
    — which live in OLDER wave dirs — are never deleted, so the
    archived manifest remains fully readable. The seen set, bloom,
    and cuckoo shards are untouched (they are url-keyed, not
    score-keyed). Subsequent waves schedule by the new scores; the
    scheduled set stays layout-independent by the same prefix
    argument as always (bands.ReadPlan).

    ``dim``: optional side table LEFT-joined on ``dim_key`` before
    the expression is applied, so policies can blend per-url signals
    that live outside the frontier schema — the flagship case is
    link authority (frontier/graphrank.py pagerank keyed by url:
    score' = score + rank div K). The join is key-partitioned (at
    10^10-frontier scale the rank dim is frontier-sized, not
    broadcastable; AQE handles host-skewed keys), and only the
    frontier's own columns are written back.

    Raises if any new score is negative (the banding contract
    requires non-negative scores) — one tiny aggregation, acceptable
    for an offline job."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    last = last_complete_wave(cfg)
    if last >= 0:
        fdir = os.path.join(_wave_dir(cfg, last), "frontier")
        out_base = os.path.join(_wave_dir(cfg, last),
                                "frontier_rescored")
    else:
        fdir = os.path.join(cfg.checkpoint_dir, "frontier_seed")
        out_base = os.path.join(cfg.checkpoint_dir,
                                "frontier_seed_rescored")
    # versioned output dir: a SECOND rescore before the next wave
    # would otherwise read the frontier from frontier_rescored while
    # overwriting that same directory in one Spark job (the leaf-dir
    # reads dodge Spark's overwrite-read check — input files deleted
    # mid-job). Each rescore writes a fresh _vN dir and archives the
    # manifest under a matching suffix.
    parent = os.path.dirname(out_base)
    prefix = os.path.basename(out_base) + "_v"
    existing = [int(name[len(prefix):])
                for name in os.listdir(parent)
                if name.startswith(prefix)
                and name[len(prefix):].isdigit()] \
        if os.path.isdir(parent) else []
    # max+1, not first-free-slot: retention deletes old versions, so
    # a gap scan could re-use an index BELOW the live one
    n = max(existing, default=-1) + 1
    out_dir = f"{out_base}_v{n}"
    manifest = bands.load_manifest(fdir)
    df = bands.read_full_frontier(spark, manifest)
    frontier_cols = df.columns
    if dim is not None:
        df = df.join(dim, dim_key, "left")
    df = (df.withColumn("score", new_score_col.cast("long"))
          .select(*frontier_cols))
    # NULL must be caught here too: `score < 0` is NULL for null
    # scores, which would pass a bare `< 0` guard and later crash in
    # bands._with_runs with a cryptic int(None) AFTER partitionBy has
    # written a __HIVE_DEFAULT_PARTITION__ dir (advisory pin)
    bad = (df.where(F.col("score").isNull() | (F.col("score") < 0))
           .limit(1).count())
    if bad:
        raise ValueError(
            "rescore_frontier: new_score_col produced a NEGATIVE or "
            "NULL score — the score-band layout (band = score div "
            "width) requires non-negative, non-null scores; shift, "
            "clamp, or coalesce the expression")
    new_manifest, rows = bands.write_wave_frontier(
        spark, df, out_dir, cfg, bands.empty_manifest(cfg), [])
    # archive-then-swap: write_manifest's os.replace is the atomic
    # commit point; a crash before it leaves the old manifest intact
    archive = bands.manifest_path(fdir) + f".pre_rescore_v{n}"
    _shutil.copyfile(bands.manifest_path(fdir), archive)
    bands.write_manifest(fdir, new_manifest)
    # bounded retention (review finding): each version is a FULL
    # frontier copy, so only the live version and its immediate
    # predecessor stay on disk (the predecessor keeps the newest
    # archived manifest readable for a one-step rollback); anything
    # older is superseded twice over and deleted — like compact_seen,
    # deeper retention is an explicit operator decision, not default
    for k in range(n - 1):
        _shutil.rmtree(f"{out_base}_v{k}", ignore_errors=True)
    return {"rows": rows, "out_dir": out_dir, "manifest_dir": fdir,
            "archived": archive}


def read_frontier_asof(spark, cfg: CrawlConfig, wave: int):
    """The frontier AS OF the end of ``wave`` (``-1`` = seed state),
    through its committed manifest — the snapshot-id-addressed read
    (Iceberg ``VERSION AS OF`` without a catalog). Because manifests
    carry untouched bands by reference, this is the ONLY correct way
    to read a historical frontier: a wave's ``frontier/`` dir holds
    just that wave's delta."""
    import os as _os

    if wave < 0:
        fdir = _os.path.join(cfg.checkpoint_dir, "frontier_seed")
    else:
        fdir = _os.path.join(_wave_dir(cfg, wave), "frontier")
    return bands.read_full_frontier(spark, bands.load_manifest(fdir))


def list_snapshots(cfg: CrawlConfig) -> list[dict]:
    """Lineage records of the committed waves 0..last_complete_wave,
    in order."""
    out = []
    for w in range(last_complete_wave(cfg) + 1):
        with open(os.path.join(_wave_dir(cfg, w), "_lineage.json")) as fh:
            out.append(json.load(fh))
    return out


def rollback_to_wave(cfg: CrawlConfig, wave: int) -> int:
    """Drop all snapshots AFTER ``wave`` — every wave dir above it,
    including any above a gap; returns number removed. ``wave=-1``
    resets to the seed state."""
    removed = _drop_waves_above(cfg, wave)
    # a compact covering waves beyond the target would resurrect
    # rolled-back urls — drop it (raw deltas remain the truth)
    marker = read_compact_marker(cfg)
    if marker is not None and marker["upto_wave"] > wave:
        shutil.rmtree(os.path.join(cfg.checkpoint_dir, COMPACT_DIRNAME),
                      ignore_errors=True)
        removed += 1
    if wave < 0:
        for name in ("seen_seed", "frontier_seed"):
            seed = os.path.join(cfg.checkpoint_dir, name)
            if os.path.isdir(seed):
                shutil.rmtree(seed)
                removed += 1
    return removed


def verify_lineage(cfg: CrawlConfig) -> list[str]:
    """Consistency check: each wave's recorded input dir exists and
    wave numbers are contiguous. Returns a list of problems."""
    problems = []
    snaps = list_snapshots(cfg)
    for i, s in enumerate(snaps):
        if s["wave"] != i:
            problems.append(f"wave {i}: lineage says {s['wave']}")
        if i > 0 and not os.path.isdir(s["input_wave_dir"]):
            problems.append(f"wave {i}: missing input {s['input_wave_dir']}")
        for p in s.get("seen_deltas", []):
            if not os.path.isdir(p):
                problems.append(f"wave {i}: missing seen delta {p}")
        mpath = s.get("frontier_manifest")
        if mpath:
            if not os.path.exists(mpath):
                problems.append(f"wave {i}: missing manifest {mpath}")
            else:
                with open(mpath) as fh:
                    man = json.load(fh)
                for b, v in man.get("bands", {}).items():
                    for p in v["paths"]:
                        if not os.path.isdir(p):
                            problems.append(
                                f"wave {i}: band {b} missing path {p}")
    return problems
