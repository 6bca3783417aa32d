"""URL-seen set: ONE pre-filter per wave (partitioned cuckoo shards
or the bloom) + the exact anti-join.

Correctness contract: the PRE-FILTER only prunes (false positives
allowed, false negatives impossible); exactness always comes from the
``left_anti`` join against the seen table. That keeps results
identical at any parallelism level — the crux of matching crawl
ordering at local[8] vs local[32] (SURVEY §7.4).

Scale design (10^10 urls):

* the seen table is parquet partitioned by ``pmod(xxhash64(host), P)``;
  the exact check has two physical strategies (``_anti_seen``): a
  plain shuffle anti-join, or a broadcast semi/anti two-phase where
  the seen table only STREAMS — the steady-state choice once seen
  dwarfs a wave's candidates;
* the broadcast bloom is AUTO-SIZED at first activation from the seen
  count (~16 bits/key, ``bloom_auto_bits``) and rebuilt ×8 from the
  seen table whenever its popcount-estimated false-positive rate
  crosses ``bloom_fp_rebuild``, up to ``BLOOM_MAX_BITS`` = 2^27 bits
  (16 MiB): built distributedly as per-partition bitmaps
  (tree-merged, driver cost bounded by 8·m/8 bytes) and maintained
  INCREMENTALLY by OR-ing each wave's delta; past the cap it
  saturates toward no-op pruning but never breaks correctness;
* cuckoo shards give per-partition ~8 bits/key membership with
  deletions (needed when a frontier partition is re-scored); bucket
  counts are powers of two so the xor-fold alternate bucket is an
  involution (a non-involutive fold silently loses evicted
  fingerprints — round-1 advisor finding); stored as parquet
  alongside the seen snapshot;
* a wave probes ONE of them (``SeenFilters.prefilter``): the cuckoo
  shards when the probe routes on (``cuckoo_probes``), else the bloom
  once active. The bloom stacked behind the cuckoo would only see the
  cuckoo's positives — already-seen urls plus a ~1e-4 false-positive
  share of the new ones — which it cannot prune. Both are still
  maintained every wave (``SeenFilters.maintain_bloom`` and
  ``maintain_cuckoo``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_BITS_DEFAULT = 1 << 22
_K_HASHES = 3


def _bit_indices(urls_hash: "pd.Series", m: int) -> np.ndarray:
    # xxhash64 is a signed long column; reinterpret, don't range-cast
    h = urls_hash.to_numpy(dtype=np.int64).view(np.uint64)
    idx = np.empty((len(h), _K_HASHES), dtype=np.int64)
    for k in range(_K_HASHES):
        salt = np.uint64((0x9E3779B97F4A7C15 * (k + 1)) % (1 << 64))
        with np.errstate(over="ignore"):
            idx[:, k] = ((h * np.uint64(2 * k + 1) + salt)
                         % np.uint64(m)).astype(np.int64)
    return idx


def _set_bits(arr: np.ndarray, h: "pd.Series", m: int) -> None:
    idx = _bit_indices(h, m).reshape(-1)
    np.bitwise_or.at(arr, idx // 8, (1 << (idx % 8)).astype(np.uint8))


def _all_bits_set(arr: np.ndarray, h: "pd.Series", m: int) -> np.ndarray:
    """The bloom probe: True where all k bits of a url hash are set in
    the uint8 bitmap ``arr`` of m bits."""
    idx = _bit_indices(h, m)
    hit = np.ones(len(h), dtype=bool)
    for k in range(_K_HASHES):
        b = idx[:, k]
        hit &= (arr[b // 8] >> (b % 8).astype(np.uint8) & 1).astype(bool)
    return hit


def bloom_merge_urls(urls: DataFrame, m: int = BLOOM_BITS_DEFAULT,
                     base: bytes | None = None,
                     max_parts: int | None = None) -> bytes:
    """Fold a url set into a bloom bitmap, DISTRIBUTEDLY.

    Each partition builds its own fixed-size uint8 bitmap (Arrow
    batches, no per-row Python); partial bitmaps are OR-merged down to
    <= 8 rows executor-side before the driver touches anything, so the
    driver cost is bounded by 8 * m/8 bytes — independent of |urls| and
    of the partition count (the round-1 implementation collected the
    DISTINCT bit set, O(min(|urls|*k, m)) rows through the driver).

    ``base`` OR-merges into an existing bitmap — the crawl maintains
    its bloom INCREMENTALLY (seed once, fold each wave's delta), never
    re-scanning the full seen table per wave.

    ``max_parts`` (round 8) coalesces the input first (narrow, no
    shuffle): every partition allocates and sends an m/8-byte partial
    bitmap, so folding a SMALL url set (a wave's delta, often cached
    in 100+ tiny partitions) at a large m pays partitions x m/8 of
    allocation+merge for rows that fit in a handful of tasks. Callers
    folding big tables (build_bloom over a full seen set) leave it
    None to keep full scan parallelism.
    """
    nbytes = m // 8 + 1
    if max_parts is not None and urls.rdd.getNumPartitions() > max_parts:
        urls = urls.coalesce(max_parts)

    def to_bitmap(batches):
        arr = np.zeros(nbytes, dtype=np.uint8)
        n = 0
        for pdf in batches:
            if len(pdf):
                _set_bits(arr, pdf["h"], m)
                n += len(pdf)
        if n:
            yield pd.DataFrame({"bitmap": [arr.tobytes()]})

    def or_merge(batches):
        arr = np.zeros(nbytes, dtype=np.uint8)
        n = 0
        for pdf in batches:
            for blob in pdf["bitmap"]:
                arr |= np.frombuffer(bytes(blob), dtype=np.uint8)
                n += 1
        if n:
            yield pd.DataFrame({"bitmap": [arr.tobytes()]})

    parts = (urls.select(F.xxhash64("url").alias("h"))
             .mapInPandas(to_bitmap, "bitmap binary"))
    # tree-merge only pays when there are MANY partial bitmaps (the
    # extra stage + shuffle costs ~0.5s of job latency); below 64
    # partitions the driver ORs them directly
    n_parts = urls.rdd.getNumPartitions()
    if n_parts > 64:
        parts = parts.repartition(8).mapInPandas(or_merge, "bitmap binary")
    rows = parts.collect()
    out = (np.frombuffer(base, dtype=np.uint8).copy() if base is not None
           else np.zeros(nbytes, dtype=np.uint8))
    for r in rows:
        out |= np.frombuffer(bytes(r.bitmap), dtype=np.uint8)
    return out.tobytes()


def bloom_popcount(bloom: bytes) -> int:
    """Number of set bits — the saturation signal. A fixed-size bloom
    silently degrades: beyond ~m/10 keys (k=3) the false-positive
    rate climbs toward 1 and the pre-filter becomes a no-op (still
    CORRECT — filters only prune — but every candidate then pays the
    anti-join). Driver-side numpy over <= a few MiB."""
    return int(np.unpackbits(np.frombuffer(bloom, dtype=np.uint8)).sum())


def bloom_est_fp(popcount: int, m: int) -> float:
    """Estimated false-positive rate from the observed fill fraction:
    a probe hits iff all k bits are set, so fp ≈ (popcount/m)^k.
    Pure function of two ints — the oracle twin computes the
    identical float."""
    return (popcount / m) ** _K_HASHES


def build_bloom(seen: DataFrame, m: int = BLOOM_BITS_DEFAULT) -> bytes:
    """Full bloom build over a seen table (first activation / resume
    without a persisted bitmap). Per-wave maintenance should use
    ``bloom_merge_urls(delta, m, base=prev)`` instead."""
    return bloom_merge_urls(seen.select("url"), m)


def bloom_maybe_seen(candidates: DataFrame, bloom: bytes,
                     m: int = BLOOM_BITS_DEFAULT) -> DataFrame:
    """Adds boolean ``maybe_seen``: False = definitely new (bloom
    negative), True = must confirm via anti-join."""
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(T.BooleanType())
    def probe(h: pd.Series) -> pd.Series:
        return pd.Series(_all_bits_set(
            np.frombuffer(bc.value, dtype=np.uint8), h, m))

    return candidates.withColumn("maybe_seen", probe(F.xxhash64("url")))


def _anti_seen(candidates: DataFrame, seen: DataFrame,
               strategy: str) -> DataFrame:
    """The exact membership check, two physical strategies:

    * ``shuffle`` — plain left_anti: BOTH sides shuffle on url. Right
      when seen and candidates are comparable in size.
    * ``broadcast`` — two-phase semi/anti: ``hits`` = seen ⋉
      broadcast(candidates) (the seen table only STREAMS through a
      map-side broadcast hash join — no shuffle, no sort of 10^10
      rows), then candidates ⟕̸ broadcast(hits). Right when seen
      dwarfs the wave's candidates (the steady-state crawl); driver
      memory is bounded by the candidate set, which bloom+cuckoo
      pruning keeps small — the crawl enforces a hard candidate
      ceiling (CrawlConfig.broadcast_max_candidates) via the previous
      wave's links_distinct and falls back to shuffle above it.
    Results are identical; the crawl pins this at test scale.
    """
    if strategy == "broadcast":
        hits = seen.select("url").join(
            F.broadcast(candidates.select("url")), "url", "left_semi")
        return candidates.join(F.broadcast(hits), "url", "left_anti")
    return candidates.join(seen.select("url"), "url", "left_anti")


def filter_new_urls(candidates: DataFrame, seen: DataFrame,
                    prefilter=None, strategy: str = "shuffle") -> DataFrame:
    """Exact new-url filter: the optional ``prefilter`` (candidates ->
    candidates + boolean ``maybe_seen``: ``cuckoo_prune``,
    ``bloom_maybe_seen`` or ``bloom_shards_prune``) flags each
    candidate, and only maybe-seen ones pay the exact membership
    check (see ``_anti_seen`` for the strategy choice); definitely-new
    ones skip the join entirely."""
    if prefilter is None:
        return _anti_seen(candidates, seen, strategy)
    flagged = prefilter(candidates)
    definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
    to_confirm = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed = _anti_seen(to_confirm, seen, strategy)
    return definitely_new.unionByName(confirmed)


# --------------------------------------------------------------------------
# Sharded bloom (the 10^10-url design point)
# --------------------------------------------------------------------------
#
# A single global bitmap at 16 bits/key is ~20 GB at 10^10 urls — past
# executor broadcast comfort. The sharded mode keys one bitmap per seen
# partition (same pmod(xxhash64(host), P) as the seen table and cuckoo
# shards), probed via a partition-local cogroup: each task materializes
# ONLY its shard (m_shard/8 bytes per executor-task, never the global
# bitmap), and maintenance ORs a wave's delta into each touched shard
# executor-side — no driver-side bitmap at any point. Bit semantics are
# IDENTICAL to the global bloom (same _bit_indices family over m_shard),
# and blooms only prune, so scheduling is byte-identical between modes
# (pinned by the invariance test).

BLOOM_SHARD_SCHEMA = T.StructType([
    T.StructField("partition", T.IntegerType()),
    T.StructField("bitmap", T.BinaryType()),
])


def bloom_shard_bits(bitmap: bytes) -> int:
    """A bitmap's m, persisted via its length (nbytes = m//8 + 1 —
    every bitmap here, a shard's or the global bloom.bin)."""
    return (len(bitmap) - 1) * 8


def _check_shard_m(m_shard: int) -> int:
    """m_shard must be a positive multiple of 8: the probe re-derives
    the modulus from bitmap length as (nbytes - 1) * 8, which only
    round-trips m // 8 + 1 bytes exactly when 8 | m. Any other m
    would make the probe use a DIFFERENT modulus than the build —
    bloom FALSE NEGATIVES, i.e. already-seen urls skipping the exact
    anti-join (advisor round-6). Rejected loudly instead."""
    if m_shard <= 0 or m_shard % 8:
        raise ValueError(
            f"m_shard must be a positive multiple of 8, got {m_shard} "
            "(the shard modulus is persisted via bitmap length; a "
            "non-multiple-of-8 m cannot round-trip and would produce "
            "bloom false negatives on probe/resume)")
    return m_shard


def build_bloom_shards(seen: DataFrame, n_partitions: int,
                       m_shard: int) -> DataFrame:
    """One bloom bitmap per seen partition, built executor-side
    (applyInPandas over the partition group — bit-setting is
    order-independent, so shards are byte-deterministic at any
    parallelism)."""
    _check_shard_m(m_shard)
    keyed = seen.select(
        _partition_of(F.col("url"), n_partitions).alias("partition"),
        F.xxhash64("url").alias("h"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(m_shard // 8 + 1, dtype=np.uint8)
        _set_bits(arr, pdf["h"], m_shard)
        part = int(pdf["partition"].iloc[0]) if len(pdf) else 0
        return pd.DataFrame({"partition": [part],
                             "bitmap": [arr.tobytes()]})

    return keyed.groupBy("partition").applyInPandas(
        build, BLOOM_SHARD_SCHEMA)


def merge_bloom_shards(shards: DataFrame, delta: DataFrame,
                       n_partitions: int, m_shard: int) -> DataFrame:
    """OR a wave's new-url delta into the shard bitmaps (cogroup —
    partition-local, each shard touched once, O(delta) work). Shards
    with no delta pass through unchanged; delta urls landing in a
    partition with no shard yet create it."""
    _check_shard_m(m_shard)
    keyed = delta.select(
        _partition_of(F.col("url"), n_partitions).alias("partition"),
        F.xxhash64("url").alias("h"))

    def merge(key, url_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        if len(shard_pdf):
            arr = np.frombuffer(bytes(shard_pdf["bitmap"].iloc[0]),
                                dtype=np.uint8).copy()
        else:
            arr = np.zeros(m_shard // 8 + 1, dtype=np.uint8)
        if len(url_pdf):
            _set_bits(arr, url_pdf["h"], m_shard)
        return pd.DataFrame({"partition": [int(key[0])],
                             "bitmap": [arr.tobytes()]})

    return (keyed.groupBy("partition")
            .cogroup(shards.groupBy("partition"))
            .applyInPandas(merge, BLOOM_SHARD_SCHEMA))


def _probe_shards(candidates: DataFrame, shards: DataFrame,
                  n_partitions: int, member) -> DataFrame:
    """Adds boolean ``maybe_seen`` via a partition-local cogroup probe:
    ``member(shard_row, hashes)`` flags the candidates of a partition
    against its shard; candidates in a partition with no shard are all
    definitely-new (their partition has never seen a url)."""
    keyed = (candidates
             .withColumn("partition",
                         _partition_of(F.col("url"), n_partitions))
             .withColumn("h", F.xxhash64("url")))
    out_schema = T.StructType(
        keyed.schema.fields
        + [T.StructField("maybe_seen", T.BooleanType())])

    def probe(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        cand_pdf = cand_pdf.copy()
        cand_pdf["maybe_seen"] = (member(shard_pdf.iloc[0], cand_pdf["h"])
                                  if len(shard_pdf) else False)
        return cand_pdf

    return (keyed.groupBy("partition")
            .cogroup(shards.groupBy("partition"))
            .applyInPandas(probe, out_schema)
            .drop("h", "partition"))


def bloom_shards_prune(candidates: DataFrame, shards: DataFrame,
                       n_partitions: int) -> DataFrame:
    """Adds boolean ``maybe_seen`` via a partition-local shard probe
    (cogroup): False = definitely new. A task holds exactly one
    shard's bitmap — the executor-memory contract of the sharded
    design."""
    def member(shard, h):
        bitmap = bytes(shard["bitmap"])
        return _all_bits_set(np.frombuffer(bitmap, dtype=np.uint8), h,
                             bloom_shard_bits(bitmap))

    return _probe_shards(candidates, shards, n_partitions, member)


def bloom_shards_stats(shards: DataFrame) -> tuple[int, int]:
    """(total_bits, total_popcount) across shards — P rows through
    the driver, never a bitmap. Feeds the same est-fp saturation
    signal as the global mode (keys distribute uniformly across
    equal-sized shards, so the aggregate ratio is the per-shard
    ratio in expectation)."""

    @F.pandas_udf(T.LongType())
    def pc(b: pd.Series) -> pd.Series:
        return b.apply(lambda x: int(np.unpackbits(
            np.frombuffer(bytes(x), dtype=np.uint8)).sum()))

    @F.pandas_udf(T.LongType())
    def bits(b: pd.Series) -> pd.Series:
        return b.apply(lambda x: bloom_shard_bits(bytes(x)))

    row = (shards.select(pc(F.col("bitmap")).alias("pc"),
                         bits(F.col("bitmap")).alias("m"))
           .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("m"),
                F.coalesce(F.sum("pc"), F.lit(0)).alias("pc"))
           .collect()[0])
    return int(row.m), int(row.pc)


# --------------------------------------------------------------------------
# Cuckoo filter (per-partition membership shards)
# --------------------------------------------------------------------------

class CuckooFilter:
    """Minimal (2,4)-cuckoo filter over uint16 fingerprints.

    Deterministic given insertion order; the crawl inserts urls in
    sorted order per partition, so shards are reproducible across
    parallelism levels. 0 is the empty slot (fingerprints are mapped
    to 1..65535)."""

    SLOTS = 4
    MAX_KICKS = 256

    def __init__(self, n_buckets: int):
        # POWER OF TWO is load-bearing: the alternate-bucket map
        # i2 = (i ^ fp*M) & (n-1) is an involution only under a
        # power-of-two mask. With a plain modulus, evicted
        # fingerprints can land in buckets contains_hash never
        # probes — a false negative, which the crawl's
        # definitely-new bypass turns into a re-crawl (correctness
        # bug, found by the round-1 advisor).
        self.n_buckets = 1 << (max(2, n_buckets) - 1).bit_length()
        self.table = np.zeros((self.n_buckets, self.SLOTS), dtype=np.uint16)

    @staticmethod
    def _fingerprint(h: np.ndarray) -> np.ndarray:
        fp = (h >> np.uint64(48)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)

    def _fp_i1_i2(self, h_arr: np.ndarray):
        """Vectorized (fingerprint, bucket, alt-bucket) for a uint64
        hash array — ONE numpy pass instead of per-key allocations
        (the probe/insert hot loops are executor-side Python)."""
        fp = self._fingerprint(h_arr)
        i1 = (h_arr % np.uint64(self.n_buckets)).astype(np.int64)
        i2 = (i1 ^ (fp.astype(np.int64) * 0x5BD1E995)) \
            & (self.n_buckets - 1)
        return fp, i1, i2

    def _i2(self, i1, fp):
        # xor-then-mask: involutive because n_buckets is a power of two
        return (i1 ^ (int(fp) * 0x5BD1E995)) & (self.n_buckets - 1)

    def _insert_fp(self, fp: int, i1: int, i2: int) -> bool:
        table = self.table
        for idx in (i1, i2):
            row = table[idx]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # evict deterministically: rotate victim slots with kick count
        idx = i2
        swaps = []
        for kick in range(self.MAX_KICKS):
            slot = kick % self.SLOTS
            victim = int(table[idx][slot])
            table[idx][slot] = fp
            swaps.append((idx, slot, victim))
            fp = victim
            idx = self._i2(idx, fp)
            row = table[idx]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # overfull: undo the chain — it ends holding an EARLIER
        # member's fingerprint, and dropping it would be a false
        # negative — and let the caller resize (membership safety is
        # ultimately backed by the exact anti-join regardless)
        for idx, slot, victim in reversed(swaps):
            table[idx][slot] = victim
        return False

    def insert_hash(self, h: int) -> bool:
        h_arr = np.array([h], dtype=np.uint64)
        fp, i1, i2 = self._fp_i1_i2(h_arr)
        return self._insert_fp(int(fp[0]), int(i1[0]), int(i2[0]))

    def insert_many(self, h_arr: np.ndarray) -> bool:
        """Insert hashes IN ORDER (eviction chains depend on it — the
        crawl inserts sorted-by-url for cross-parallelism determinism).
        Returns False if any insert overflowed."""
        fp, i1, i2 = self._fp_i1_i2(h_arr.astype(np.uint64))
        ok = True
        for j in range(len(h_arr)):
            ok &= self._insert_fp(int(fp[j]), int(i1[j]), int(i2[j]))
        return ok

    def contains_hash(self, h: int) -> bool:
        return bool(self.contains_many(np.array([h], dtype=np.uint64))[0])

    def contains_many(self, h_arr: np.ndarray) -> np.ndarray:
        """Vectorized membership probe: boolean array, no per-key
        Python."""
        fp, i1, i2 = self._fp_i1_i2(h_arr.astype(np.uint64))
        fpc = fp[:, None]
        return ((self.table[i1] == fpc).any(axis=1)
                | (self.table[i2] == fpc).any(axis=1))

    def delete_hash(self, h: int) -> bool:
        h_arr = np.array([h], dtype=np.uint64)
        fp_a, i1_a, i2_a = self._fp_i1_i2(h_arr)
        fp = int(fp_a[0])
        for idx in (int(i1_a[0]), int(i2_a[0])):
            row = self.table[idx]
            hits = np.nonzero(row == fp)[0]
            if len(hits):
                row[hits[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooFilter":
        if n_buckets & (n_buckets - 1):
            raise ValueError(
                f"cuckoo shard n_buckets={n_buckets} is not a power of "
                "two — shard written by a pre-fix build; rebuild from "
                "the seen table (maintain_cuckoo_shards)")
        cf = cls(n_buckets)
        cf.table = np.frombuffer(data, dtype=np.uint16).reshape(
            (n_buckets, cls.SLOTS)).copy()
        return cf


CUCKOO_SHARD_SCHEMA = T.StructType([
    T.StructField("partition", T.IntegerType()),
    T.StructField("n_buckets", T.IntegerType()),
    T.StructField("blob", T.BinaryType()),
])


def _partition_of(url_col, n_partitions: int):
    return F.pmod(
        F.xxhash64(F.regexp_extract(url_col, r"^[a-z]+://([^/:?#]+)", 1)),
        F.lit(n_partitions)).cast("int")


def update_cuckoo_shards(shards: DataFrame, new_urls: DataFrame,
                         n_partitions: int,
                         load_factor: float = 0.5) -> DataFrame:
    """Incrementally fold newly-seen urls into the per-partition
    cuckoo shards (cogroup — each shard is touched once, O(new) work,
    never a rebuild over the full seen set). Insertion order is
    sorted-by-url within partition -> byte-deterministic shards at
    any parallelism."""
    keyed = new_urls.select(
        "url", _partition_of(F.col("url"), n_partitions).alias("partition"),
        F.xxhash64("url").alias("h"))

    def merge(key, new_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        part = int(key[0])
        hashes = (new_pdf.sort_values("url")["h"]
                  .to_numpy(dtype=np.int64).view(np.uint64))
        if len(shard_pdf):
            cf = CuckooFilter.from_bytes(bytes(shard_pdf["blob"].iloc[0]),
                                         int(shard_pdf["n_buckets"].iloc[0]))
        else:
            n = max(4, int(len(hashes) / (CuckooFilter.SLOTS * load_factor)) + 1)
            cf = CuckooFilter(n)
        overflow = not cf.insert_many(hashes)
        # On overflow the shard is INCOMPLETE for this delta (cuckoo
        # fingerprints cannot be re-keyed for a resize). A false
        # negative here is a CORRECTNESS bug downstream (the
        # definitely-new bypass would re-crawl a seen url), so the
        # caller MUST rebuild flagged partitions from the seen table
        # (maintain_cuckoo_shards does; amortized-geometric cost).
        return pd.DataFrame({"partition": [part],
                             "n_buckets": [cf.n_buckets],
                             "blob": [cf.to_bytes()],
                             "overflow": [overflow]})

    out_schema = T.StructType(CUCKOO_SHARD_SCHEMA.fields
                              + [T.StructField("overflow", T.BooleanType())])
    return (keyed.groupBy("partition")
            .cogroup(shards.groupBy("partition"))
            .applyInPandas(merge, out_schema))


def _any_overflow(path: str) -> bool:
    """True iff any row of the committed shard parquet has
    overflow=True — read driver-side (pyarrow, tiny file), zero
    Spark jobs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["overflow"]).column("overflow")
    return bool(pc.any(col).as_py() or False)


def maintain_cuckoo_shards(shards: DataFrame | None, delta_urls: DataFrame,
                           full_seen: DataFrame, n_partitions: int,
                           path: str) -> DataFrame:
    """The safe maintenance protocol: incremental fold of the delta;
    if ANY partition overflowed, rebuild all shards from the seen
    table (source of truth) with extra headroom — restoring the
    no-false-negative invariant the definitely-new bypass relies on.
    Geometric headroom makes full rebuilds amortized-rare. ``shards``
    None (dropped or never built) is a full build from the seen table.

    The updated shards are written to ``path`` directly and the
    committed parquet is returned — the cogroup executes exactly once
    (the write IS the materialization; the overflow check reads the
    tiny committed file, not a second pass)."""
    spark = delta_urls.sparkSession
    if shards is None:
        build_cuckoo_shards(full_seen, n_partitions, load_factor=0.25) \
            .write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    updated = update_cuckoo_shards(shards, delta_urls, n_partitions)
    updated.write.mode("overwrite").parquet(path)
    # overflow probe reads the just-committed tiny parquet (P rows)
    # driver-side via pyarrow — the probe was a whole Spark job per
    # wave (limit(1).count()), pure fixed cost on the crawl's
    # steady-state path; the checkpoint dir is local/shared FS by
    # the same contract every manifest footer read already relies on
    if _any_overflow(path):
        rebuilt = build_cuckoo_shards(full_seen, n_partitions,
                                      load_factor=0.25)
        rebuilt.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select("partition", "n_buckets",
                                           "blob")


def cuckoo_prune(candidates: DataFrame, shards: DataFrame,
                 n_partitions: int) -> DataFrame:
    """Adds boolean ``maybe_seen`` via a partition-local cogroup
    probe: False = definitely new (cuckoo filters never
    false-negative), True = confirm via anti-join."""
    def member(shard, h):
        cf = CuckooFilter.from_bytes(bytes(shard["blob"]),
                                     int(shard["n_buckets"]))
        return cf.contains_many(h.to_numpy(dtype=np.int64).view(np.uint64))

    return _probe_shards(candidates, shards, n_partitions, member)


def build_cuckoo_shards(seen: DataFrame, n_partitions: int,
                        load_factor: float = 0.5) -> DataFrame:
    """One cuckoo filter per seen partition, built executor-side with
    applyInPandas (urls sorted within partition -> deterministic)."""
    keyed = seen.select(
        "url", _partition_of(F.col("url"), n_partitions).alias("partition"),
        F.xxhash64("url").alias("h"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        hashes = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
        n = max(4, int(len(pdf) / (CuckooFilter.SLOTS * load_factor)) + 1)
        while True:  # resize-on-overflow keeps the filter exact-negative
            cf = CuckooFilter(n)
            if cf.insert_many(hashes):
                break
            n *= 2
        part = int(pdf["partition"].iloc[0]) if len(pdf) else 0
        return pd.DataFrame({"partition": [part],
                             "n_buckets": [cf.n_buckets],
                             "blob": [cf.to_bytes()]})

    return keyed.groupBy("partition").applyInPandas(build, CUCKOO_SHARD_SCHEMA)


# --------------------------------------------------------------------------
# The crawl's filter lifecycle
# --------------------------------------------------------------------------

#: 2^27 bits = 16 MiB — the broadcast-comfort ceiling shared by first
#: activation (bloom_auto_bits) and the ×8 saturation rebuild path.
BLOOM_MAX_BITS = 1 << 27


def bloom_auto_bits(n_seen: int) -> int:
    """Power-of-two bloom size giving ~16 bits per already-seen key
    at first activation (k=3 -> est-fp ~0.5%), floored at 2^8 and
    capped at BLOOM_MAX_BITS = 2^27 (16 MiB broadcast). Pure function
    — the crawl oracle computes the identical value."""
    bits = max(8, (16 * max(n_seen, 1) - 1).bit_length())
    return min(1 << bits, BLOOM_MAX_BITS)


def cuckoo_probes(cfg, n_seen: int, links: int | None) -> bool:
    """Whether a wave over ``n_seen`` seen urls probes the cuckoo
    shards, given the previous wave's distinct links (None: none
    observed) — see CrawlConfig.cuckoo_probe_min_ratio. It also
    predicts whether the next wave probes (``SeenFilters.maintain_cuckoo``)."""
    return (n_seen >= cfg.cuckoo_min_seen
            and (links is None
                 or n_seen >= cfg.cuckoo_probe_min_ratio * max(links, 1)))


def _write_bitmap(path: str, bitmap: bytes) -> None:
    # plain write, no tmp + rename: a resume reads bloom.bin only from
    # the last wave whose lineage marker (written after this) committed
    # — a torn write re-runs its wave (pinned by fault-injection tests)
    with open(path, "wb") as fh:
        fh.write(bitmap)


@dataclass
class SeenFilters:
    """The crawl's seen-set filter state, carried across waves:
    ``bloom`` is the global bitmap (bytes) or, when sharded, the
    (partition, bitmap) DataFrame; ``m`` the bits per bitmap (per
    shard); ``rebuild`` a pending ×8 rebuild; ``cuckoo`` the cuckoo
    shards (None while dropped). Per wave:
    ``activate`` at the boundary, ``prefilter`` in the seen check and
    ``maintain_bloom``/``maintain_cuckoo`` after the seen-delta commit."""
    cfg: object                   # CrawlConfig
    bloom: object = None
    m: int = 0
    rebuild: bool = False
    cuckoo: DataFrame | None = None
    _built: DataFrame | None = None  # shard (re)build cache

    @classmethod
    def load(cls, spark, cfg, prev_dir: str | None = None,
             prev_metrics: dict | None = None) -> "SeenFilters":
        """Empty on a fresh crawl; on resume, what the last committed
        wave ``prev_dir`` persisted (m from the bitmap length). A
        pending rebuild is re-derived from its recorded est-fp, so a
        resumed run reproduces the uninterrupted one exactly."""
        f = cls(cfg, m=cfg.bloom_bits)
        if prev_dir is None:
            return f
        prev_fp = (prev_metrics or {}).get("bloom_est_fp")
        f.rebuild = prev_fp is not None and prev_fp > cfg.bloom_fp_rebuild
        if os.path.isdir(os.path.join(prev_dir, "cuckoo")):
            f.cuckoo = spark.read.parquet(os.path.join(prev_dir, "cuckoo"))
        if cfg.bloom_mode == "sharded":
            if os.path.isdir(os.path.join(prev_dir, "bloom_shards")):
                f.bloom = spark.read.parquet(
                    os.path.join(prev_dir, "bloom_shards"))
                one = f.bloom.select("bitmap").limit(1).collect()
                if one:
                    f.m = bloom_shard_bits(bytes(one[0].bitmap))
        elif os.path.exists(os.path.join(prev_dir, "bloom.bin")):
            with open(os.path.join(prev_dir, "bloom.bin"), "rb") as fh:
                f.bloom = fh.read()
            f.m = bloom_shard_bits(f.bloom)
        return f

    def activate(self, seen: DataFrame, n_seen: int) -> None:
        """Wave-boundary bloom activation or ×8 saturation rebuild.

        First activation sizes from the KNOWN seen count (~16 bits/key
        -> est-fp ~0.5%) instead of starting saturated and paying ×8
        rebuilds wave after wave: the global bitmap keeps
        cfg.bloom_bits as its floor, a shard sizes for its partition's
        share (uniform pmod split); the oracle mirrors both. A rebuild
        (the est-fp fired last wave) grows ×8 from the seen table, the
        truth the bitmap only approximates. Both cap at BLOOM_MAX_BITS;
        past it the bitmap stays saturated but correct (it only
        prunes), and scheduling is identical across resize histories.

        The global build collects the bitmap here, on the crawl's
        ``activate`` stage; the bloom stage reads it as that stage's
        output. The sharded build is a cached applyInPandas — no
        driver bitmap at all."""
        cfg, bloom = self.cfg, self.bloom
        rebuild, self.rebuild = self.rebuild, False
        if n_seen < cfg.bloom_min_seen or not (
                bloom is None or (rebuild and self.m < BLOOM_MAX_BITS)):
            return
        if bloom is not None:
            self.m = min(self.m * 8, BLOOM_MAX_BITS)
        elif cfg.bloom_mode == "sharded":
            self.m = bloom_auto_bits(max(1, n_seen // max(1, cfg.partitions)))
        else:
            self.m = max(self.m, bloom_auto_bits(n_seen))
        if cfg.bloom_mode == "sharded":
            self.bloom = self._built = build_bloom_shards(
                seen, cfg.partitions, self.m).cache()
        else:
            self.bloom = build_bloom(seen, self.m)

    def prefilter(self, n_seen: int, prev_links: int | None):
        """The wave's ONE pre-filter for ``filter_new_urls``: the
        cuckoo shards when the probe routes on (``cuckoo_probes``),
        else the bloom once active, else None. Returns (prefilter,
        whether it is the cuckoo probe)."""
        cfg, cuckoo, bloom = self.cfg, self.cuckoo, self.bloom
        if cuckoo is not None and cuckoo_probes(cfg, n_seen, prev_links):
            return (lambda c: cuckoo_prune(c, cuckoo, cfg.partitions)), True
        if bloom is None or n_seen < cfg.bloom_min_seen:
            return None, False
        if cfg.bloom_mode == "sharded":
            return (lambda c: bloom_shards_prune(c, bloom,
                                                 cfg.partitions)), False
        return (lambda c: bloom_maybe_seen(c, bloom, self.m)), False

    def maintain_bloom(self, delta_urls: DataFrame, wave_dir: str) -> dict:
        """Fold the wave's committed seen delta (``delta_urls`` reads
        the warm new-rows cache) into the bloom and persist it —
        global: bloom_merge_urls -> bloom.bin; sharded: a cogroup
        merge -> bloom_shards/, no driver bitmap. Returns the wave's
        bloom_* metrics (none while no bloom is active); an est-fp over
        bloom_fp_rebuild arms the ×8 rebuild."""
        if self.bloom is None:
            return {}
        if self.cfg.bloom_mode == "sharded":
            path = os.path.join(wave_dir, "bloom_shards")
            merge_bloom_shards(self.bloom, delta_urls, self.cfg.partitions,
                               self.m).write.mode("overwrite").parquet(path)
            self.bloom = delta_urls.sparkSession.read.parquet(path)
            m_total, pc = bloom_shards_stats(self.bloom)
            if self._built is not None:
                self._built.unpersist()  # the merged parquet replaces it
                self._built = None
        else:
            bitmap = bloom_merge_urls(delta_urls, self.m, self.bloom, 16)
            _write_bitmap(os.path.join(wave_dir, "bloom.bin"), bitmap)
            self.bloom, m_total, pc = bitmap, self.m, bloom_popcount(bitmap)
        est_fp = bloom_est_fp(pc, m_total)
        self.rebuild = est_fp > self.cfg.bloom_fp_rebuild
        return {"bloom_m": m_total, "bloom_popcount": pc,
                "bloom_est_fp": est_fp}

    def maintain_cuckoo(self, delta_urls: DataFrame, full_seen: DataFrame,
                        wave_dir: str, n_seen: int, links: int) -> None:
        """Maintain the cuckoo shards once the wave's seen delta
        committed (``full_seen``/``n_seen`` are post-wave, ``links``
        the wave's distinct links) — only when the NEXT wave is
        predicted to probe them (``cuckoo_probes`` on this wave's
        counts): in the expansion phase every wave's incremental fold
        is flat per-wave cost for a filter nobody reads. Skipping
        maintenance DROPS the shards (None, no cuckoo dir) — a stale
        shard would false-negative, which the definitely-new bypass
        turns into a correctness bug, so the only safe skip is
        drop-and-rebuild-from-seen when the ratio finally crosses
        (maintain_cuckoo_shards with shards=None; amortized-rare by
        the ratio check)."""
        self.cuckoo = (maintain_cuckoo_shards(
            self.cuckoo, delta_urls, full_seen, self.cfg.partitions,
            os.path.join(wave_dir, "cuckoo"))
            if cuckoo_probes(self.cfg, n_seen, links) else None)
