"""Deduplication operators: exact (hash-groupBy), MinHash, SimHash,
n-gram Jaccard — the dedup family a large-scale training-data
pipeline needs (driver brief).

Scale notes (the 100 TB story):

* exact dedup is a single hash aggregation on md5(text) — map-side
  partial agg, one shuffle on the digest (uniform key distribution by
  construction, no skew);
* MinHash signatures are pure column expressions (shingle -> md5 ->
  min), no Python, no shuffle; LSH banding turns near-dup search into
  an equi-join on (band, band_min) — shuffle on band keys instead of
  an O(n^2) cross join;
* SimHash is an Arrow-batched pandas UDF (numpy bit-twiddling) —
  the deliberate demonstration of the vectorized-Python path;
  candidate pairing again via equi-join on band prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact duplicate groups: digest, copy count,
    representative (min doc_id). Only groups with >1 copies."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_copies"),
             F.min("doc_id").alias("rep_doc_id"))
        .where(F.col("n_copies") > 1)
    )


def _shingles(text_col, k: int = 3):
    """k-word shingles as a column expression."""
    words = F.split(text_col, " ")
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signature(docs: DataFrame, k: int = 3,
                      n_hashes: int = 4) -> DataFrame:
    """MinHash over k-word shingles. Hash family: ONE md5 digest per
    (seed, shingle) yields FOUR independent 32-bit hashes — hash i is
    the 8-hex-char slice ``md5((i div 4) || ':' || s)[(i mod 4)*8 :]``
    (hex slices compare lexicographically = numerically). Returns
    doc_id + minhash_0..n-1.

    The digest-slicing is a deliberate hot-path optimization: the
    shingle stream is the bench's heaviest section, and the naive
    family (one full md5 PER hash) pays n_hashes digests per shingle
    where ceil(n_hashes/4) suffice — a ~4x cut in hashing with the
    standard one-digest-many-hashes construction (32-bit slices keep
    min-collision probability negligible at shingle counts this
    pipeline sees).

    Physical shape (optimization round 8): ONE Arrow-batched map over
    (doc_id, text) — shingling, hashing (hashlib.md5, C speed) and
    the per-doc minimum all happen in-task, so the operator has ZERO
    shuffle and emits exactly one row per qualifying doc. The
    previous shape (pure column expressions: explode shingles →
    md5 → groupBy min) was measured 5x slower at the bench scale
    because the shingle build ran through interpreted higher-order
    functions (transform/slice/concat_ws are CodegenFallback) and
    min(string) forced SortAggregate — noop-isolated floors:
    shingle construction alone 8.7 s of the 10.2 s section, vs
    ~1.5 s for this path (OPTIMIZATION_r08.md). Results are
    byte-identical (differential test + oracle gate): Python
    ``text.split(" ")`` matches ``F.split(text, " ")`` (empties and
    trailing empties kept), md5 bytes match, and bytewise min of the
    4-byte digest slice equals lexicographic min of its lowercase-hex
    rendering. Guide §4.2: let Spark distribute, hand each batch to
    native code."""
    from pyspark.sql import types as T

    n_seeds = -(-n_hashes // 4)
    id_type = docs.schema["doc_id"].dataType
    out_schema = T.StructType(
        [T.StructField("doc_id", id_type)]
        + [T.StructField(f"minhash_{i}", T.StringType())
           for i in range(n_hashes)])

    def gen(batches):
        import pyarrow as pa
        from hashlib import md5

        prefixes = [f"{j}:".encode() for j in range(n_seeds)]
        base0 = md5(prefixes[0])  # seeded digest, copied per shingle
        slices = [(i // 4, (i % 4) * 4) for i in range(n_hashes)]
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids = []
            out_mins: list[list[str]] = [[] for _ in range(n_hashes)]
            for did, text in zip(ids, texts):
                if text is None:
                    continue
                if n_seeds == 1 and n_hashes == 4:
                    # the hot shape (bench + LSH presets route here
                    # per seed): locals, no inner loops. Shingles are
                    # read as byte SUBSTRINGS of the encoded text
                    # (round 8): split(" ") splits on every single
                    # space, so " ".join(words[j:j+k]) is exactly
                    # text[off_j : off_{j+k}-1] — and 0x20 never
                    # occurs inside a UTF-8 multibyte sequence, so
                    # byte-splitting matches str-splitting word for
                    # word. One slice + a seeded-digest copy replace
                    # the per-shingle tuple/join/encode/concat churn
                    # (measured ~12% off the loop, byte-identical by
                    # the differential test).
                    benc = text.encode()
                    bw = benc.split(b" ")
                    n = len(bw)
                    if n < k:
                        continue
                    offs = [0] * (n + 1)
                    o = 0
                    ix = 1
                    for w in bw:
                        o += len(w) + 1
                        offs[ix] = o
                        ix += 1
                    m0 = m1 = m2 = m3 = b"\xff\xff\xff\xff\xff"
                    bc = base0.copy
                    for j in range(n - k + 1):
                        h = bc()
                        h.update(benc[offs[j]:offs[j + k] - 1])
                        d = h.digest()
                        s0 = d[0:4]
                        if s0 < m0:
                            m0 = s0
                        s1 = d[4:8]
                        if s1 < m1:
                            m1 = s1
                        s2 = d[8:12]
                        if s2 < m2:
                            m2 = s2
                        s3 = d[12:16]
                        if s3 < m3:
                            m3 = s3
                    mins = [m0, m1, m2, m3]
                else:
                    words = text.split(" ")
                    if len(words) < k:
                        continue
                    mins = [b"\xff\xff\xff\xff\xff"] * n_hashes
                    for tup in zip(*(words[i:] for i in range(k))):
                        sb = " ".join(tup).encode()
                        digests = [md5(p + sb).digest()
                                   for p in prefixes]
                        for ix, (j, off) in enumerate(slices):
                            sl = digests[j][off:off + 4]
                            if sl < mins[ix]:
                                mins[ix] = sl
                out_ids.append(did)
                for ix in range(n_hashes):
                    out_mins[ix].append(mins[ix].hex())
            if not out_ids:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=batch.schema.field(0).type)]
                + [pa.array(col, type=pa.string())
                   for col in out_mins],
                names=["doc_id"]
                + [f"minhash_{i}" for i in range(n_hashes)])

    return docs.select("doc_id", "text").mapInArrow(gen, out_schema)


def lsh_recall(s: float, n_hashes: int, band_size: int) -> float:
    """P(candidate pair | Jaccard similarity = s) for OR-of-bands
    MinHash LSH: ``1 - (1 - s^r)^b`` with r = band_size and
    b = n_hashes // band_size (each band matches with probability
    s^r; the pair is a candidate if ANY band matches).

    This is the number to check before lifting a config into a real
    pipeline (round-4 verdict item 3): the gate-scale defaults in
    this module are CORRECT but have a toy selectivity curve — (8, 2)
    admits 31% of s=0.3 pairs as candidates (fine on a 500-doc gate
    corpus, a candidate-volume explosion on 10^9 web pages), while
    the production preset (128, 8) keeps recall at 0.95 for s=0.8
    near-dups yet admits only 0.06 of s=0.5 pairs and ~0 of s=0.3 —
    a steep curve around the knee is what makes the Jaccard verify
    stage affordable at scale."""
    if n_hashes % band_size:
        raise ValueError(f"n_hashes={n_hashes} must be a multiple of "
                         f"band_size={band_size}")
    b = n_hashes // band_size
    return 1.0 - (1.0 - s ** band_size) ** b


def lsh_threshold(n_hashes: int, band_size: int) -> float:
    """The similarity 'knee' ``(1/b)^(1/r)`` — where recall crosses
    ~1 - 1/e ≈ 0.63; pairs meaningfully above it are near-certain
    candidates, pairs below fall off steeply."""
    if n_hashes % band_size:
        raise ValueError(f"n_hashes={n_hashes} must be a multiple of "
                         f"band_size={band_size}")
    b = n_hashes // band_size
    return (1.0 / b) ** (1.0 / band_size)


#: Documented starting points (verdict round-4 item 3). Costs scale
#: linearly in n_hashes/4 md5 digests per shingle (digest-slicing in
#: minhash_signature). knee = lsh_threshold; recall = lsh_recall.
#:
#:  name       n_hashes band_size  knee   recall@0.8  recall@0.5
#:  toy            8        2      0.50     0.98        0.68
#:  web_08       128        8      0.71     0.95        0.06
#:  web_05       128        4      0.42     1.00        0.87
#:
#: "toy" is the gate/test default (tiny corpus, everything is a
#: candidate anyway); "web_08" is the C4/RefinedWeb-style web
#: near-dup point (catch Jaccard >= ~0.8 boilerplate variants while
#: keeping the verify stage's candidate volume down); "web_05" casts
#: a wide net for aggressive dedup and leans on the exact Jaccard
#: verification to filter.
LSH_PRESETS = {
    "toy": {"n_hashes": 8, "band_size": 2},
    "web_08": {"n_hashes": 128, "band_size": 8},
    "web_05": {"n_hashes": 128, "band_size": 4},
}


def minhash_lsh_pairs(docs: DataFrame, k: int = 3, n_hashes: int = 8,
                      band_size: int = 2,
                      max_bucket: int = 4096) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become
    candidate pairs (equi-join on band value — shuffle on band keys,
    never a cross join). Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Hot-band guard (``max_bucket``): a degenerate band value (boiler-
    plate prefix, near-constant shingles) makes one join key QUADRATIC
    — a 10^6-doc bucket would emit 10^12 pairs from a single task.
    Buckets above ``max_bucket`` therefore emit STAR pairs to the
    bucket representative (min doc_id) instead of all pairs: task
    output stays O(bucket), and small buckets — the actual LSH signal
    — are unaffected. ``max_bucket=0`` disables the guard.

    RECALL trade-off (advisor round-3 — stated precisely): the star
    only keeps candidate paths THROUGH the rep. If near-dups A~B share
    a monster bucket but neither resembles the rep, the (rep,A)/(rep,B)
    edges fail downstream Jaccard verification and the A–B link is
    LOST unless another band catches it (with OR-of-bands and
    boilerplate-driven monster buckets that is the common case, but it
    is not guaranteed). This is the standard big-bucket compromise:
    full in-bucket recall is inherently O(bucket²); callers needing it
    must raise ``max_bucket`` or pre-dedup exact copies first."""
    sig = minhash_signature(docs, k, n_hashes)
    bands = []
    for b in range(0, n_hashes, band_size):
        band_val = F.concat_ws("|", *[F.col(f"minhash_{j}")
                                      for j in range(b, b + band_size)])
        bands.append(sig.select("doc_id", F.lit(b).alias("band"),
                                band_val.alias("band_val")))
    exploded = bands[0]
    for b in bands[1:]:
        exploded = exploded.unionByName(b)

    if max_bucket:
        from pyspark.sql import Window

        # unbounded count/min need no sort; a monster bucket costs its
        # task O(bucket), never O(bucket^2)
        w = Window.partitionBy("band", "band_val")
        exploded = (exploded
                    .withColumn("bsz", F.count("*").over(w))
                    .withColumn("rep", F.min("doc_id").over(w)))
        small = exploded.where(F.col("bsz") <= max_bucket) \
            .select("doc_id", "band", "band_val")
        star = (exploded.where((F.col("bsz") > max_bucket)
                               & (F.col("doc_id") != F.col("rep")))
                .select(F.col("rep").alias("doc_a"),
                        F.col("doc_id").alias("doc_b")))
    else:
        small = exploded
        star = None

    left = small.alias("l")
    right = small.alias("r")
    pairs = (
        left.join(right, ["band", "band_val"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def ngram_jaccard_pairs(docs: DataFrame, candidates: DataFrame,
                        k: int = 3) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (verification stage
    after LSH): joins shingle sets, computes |A∩B| / |A∪B| in
    thousandths (integer — stable across engines)."""
    sh = docs.select("doc_id",
                     F.array_distinct(_shingles(F.col("text"), k)).alias("sh"))
    a = candidates.join(sh.withColumnRenamed("doc_id", "doc_a")
                        .withColumnRenamed("sh", "sh_a"), "doc_a")
    ab = a.join(sh.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("sh", "sh_b"), "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # explicit floor: integer-exact across engines (double->int casts
    # truncate in Spark but round in DuckDB)
    return ab.select(
        "doc_a", "doc_b",
        F.floor(inter * 1000 / union).cast("int").alias("jaccard_milli"),
    )


def _tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, set]:
    """localCheckpoint(eager) + the block-manager RDD ids it created.

    DataFrame.unpersist() does NOT free a localCheckpoint's blocks
    (verified: the RDD stays in getRDDStorageInfo), so an iterative
    loop that checkpoints per round would pin O(rounds * |V|) storage
    — the ids let the loop free the PREVIOUS round's blocks once the
    new round has materialized. Freeing a localCheckpoint makes it
    unrecoverable (lineage is truncated), so callers must only free
    checkpoints no later action reads."""
    sc = df.sparkSession.sparkContext
    before = {int(i) for i in
              sc._jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    after = {int(i) for i in
             sc._jsc.getPersistentRDDs().keySet().toArray()}
    return out, after - before


def _free_rdd_ids(spark_df_or_session, ids: set) -> None:
    sc = getattr(spark_df_or_session, "sparkSession",
                 spark_df_or_session).sparkContext
    # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs
    # "RDD N was locally checkpointed ..." for every checkpoint freed
    # here (callers free only blocks no later action reads); freeing
    # an id no longer persisted is a no-op
    jsc = sc._jsc.sc()
    for rid in ids:
        jsc.unpersistRDD(rid, False)


def connected_components_star(edges: DataFrame, a: str = "doc_a",
                              b: str = "doc_b",
                              max_iter: int = 50) -> DataFrame:
    """Undirected connected components — the dedup pipeline's final
    step (LSH candidates -> Jaccard-verified edges -> duplicate
    CLUSTERS; pairs alone under-merge transitive near-dups A~B~C) —
    by alternating large-star / small-star contraction, the
    O(log n)-round formulation (Kiveris et al., "Connected Components
    in MapReduce and Beyond"): min-label propagation needs one round
    per hop (a million-link chain needs a million rounds, this needs
    ~20).

    Per round (edges kept canonical as (hi, lo)):

    * large-star: every node attaches its strictly LARGER neighbors
      to the minimum of its closed neighborhood;
    * small-star: every node attaches its smaller neighbors and
      itself to the minimum of its smaller neighborhood.

    Both preserve connectivity; the unique fixpoint per component is
    a star centered at its minimum node. Each half-round is one
    aggregation + one join over O(|E|) rows. Deterministic:
    component id = min node id. Returns (node, component) for every
    node incident to an input edge.

    Non-convergence RAISES (advisor round-3): returning early would
    silently emit split clusters — the loud-failure contract the rest
    of the repo keeps."""
    raw = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # localCheckpoint (not cache) is load-bearing: each round's edges
    # must TRUNCATE lineage, or the logical plan doubles per round —
    # by ~9 rounds the plan string alone exceeds the JVM's 2 GB limit
    # and at scale the driver dies in analysis long before that
    # (found by the chain-graph test). On a cluster with executor
    # loss, swap for checkpoint() on reliable storage.
    nodes = (raw.select(F.col("u").alias("node"))
             .unionByName(raw.select(F.col("v").alias("node")))
             .distinct())
    e, e_ids = _tracked_local_checkpoint(
        raw.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"),
                F.least("u", "v").alias("v"))
        .distinct())
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric neighborhood
        sym = e.unionByName(e.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (sym.where(F.col("v") > F.col("u"))
                 .join(mins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .distinct())
        # small-star over the (hi -> lo) orientation large emits
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small, small_ids = _tracked_local_checkpoint(
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct())
        same = (small.count() == e.count()
                and small.join(e, ["u", "v"], "left_anti")
                .limit(1).count() == 0)
        # the convergence check was the last reader of the previous
        # round's edge checkpoint — free its blocks
        _free_rdd_ids(e, e_ids)
        e, e_ids = small, small_ids
        if same:
            converged = True
            break
    if not converged:
        # no reader left on the raise path — free the final round's
        # checkpoint blocks instead of leaking them (advisory pin)
        _free_rdd_ids(e, e_ids)
        raise ValueError(
            f"connected_components_star did not converge in max_iter="
            f"{max_iter} alternating rounds — returning here would "
            "silently emit non-star (under-merged) components. This "
            "needs O(log n) rounds; raise max_iter.")
    # converged: every non-center node has exactly one (node, center)
    # edge; centers (and self-loop-only nodes) label themselves
    non_roots = e.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
    roots = (nodes.join(non_roots, "node", "left_anti")
             .select("node", F.col("node").alias("component")))
    out = non_roots.unionByName(roots)
    # The result DERIVES from the final round's localCheckpoint, whose
    # blocks df.unpersist() on `out` cannot release (and releasing
    # them makes the result unrecoverable — lineage is truncated).
    # Long sessions running many component jobs should call this once
    # they have consumed/persisted the labels elsewhere:
    out.free_components = lambda: _free_rdd_ids(out, e_ids)
    return out


def dedup_clusters(docs: DataFrame, k: int = 3, n_hashes: int = 8,
                   band_size: int = 2,
                   jaccard_milli_min: int = 800) -> DataFrame:
    """The full near-dup resolution chain: MinHash LSH candidates ->
    exact n-gram Jaccard verification -> connected components
    (large-star/small-star: O(log n) rounds, so verified edges that
    chain into deep components converge too). Returns (doc_id,
    component) for every doc in a verified cluster (component = min
    doc_id of the cluster)."""
    cand = minhash_lsh_pairs(docs, k=k, n_hashes=n_hashes,
                             band_size=band_size)
    verified = (ngram_jaccard_pairs(docs, cand)
                .where(F.col("jaccard_milli") >= jaccard_milli_min)
                .select("doc_a", "doc_b"))
    return (connected_components_star(verified)
            .select(F.col("node").alias("doc_id"), "component"))


SIMHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("simhash", T.LongType()),
])


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens — Arrow-batched pandas
    UDF with numpy bit counting (the vectorized-Python path; a
    row-at-a-time UDF here would be 10-100x slower)."""
    import pandas as pd

    def gen(batches):
        import hashlib
        import numpy as np

        for pdf in batches:
            out_ids, out_hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                if not words:
                    out_ids.append(doc_id)
                    out_hashes.append(0)
                    continue
                hs = np.frombuffer(
                    b"".join(hashlib.md5(w.encode()).digest()[:8]
                             for w in words),
                    dtype=">u8")
                shifts = np.arange(64, dtype=np.uint64)
                bits = ((hs[:, None] >> shifts[None, :])
                        & np.uint64(1)).astype(np.int64)
                vote = bits.sum(axis=0) * 2 - len(words)
                sim = int(((vote > 0).astype(np.uint64)
                           << np.arange(64, dtype=np.uint64)).sum())
                out_ids.append(doc_id)
                out_hashes.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
            yield pd.DataFrame({"doc_id": out_ids, "simhash": out_hashes})

    return docs.select("doc_id", "text").mapInPandas(gen, SIMHASH_SCHEMA)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  max_bucket: int = 4096) -> DataFrame:
    """SimHash near-dup pairing: split the 64-bit hash into
    ``max_hamming + 1`` equal chunks — by pigeonhole, any pair within
    hamming distance ``max_hamming`` agrees EXACTLY on at least one
    chunk — equi-join on (chunk_idx, chunk_val), then verify the
    exact distance with bit_count(xor). Full recall within the ball
    for buckets up to ``max_bucket``, no cross join; returns
    (doc_a, doc_b, hamming).

    Hot-chunk guard (``max_bucket``, advisor + round-3 verdict item):
    a common chunk value — boilerplate-heavy corpora concentrating
    chunk 0, or mass-identical docs — makes one join key QUADRATIC,
    the same degenerate-key blowup minhash banding guards against.
    Buckets above ``max_bucket`` emit STAR pairs to the bucket
    representative (min doc_id) instead of all pairs; every emitted
    pair still carries its exact verified hamming. Same recall
    trade-off as ``minhash_lsh_pairs``: in a monster bucket only
    pairs THROUGH the rep survive — an A~B pair where neither is
    within ``max_hamming`` of the rep is lost unless another chunk
    catches it. ``max_bucket=0`` disables the guard.

    Scale shape: the chunk join shuffles (max_hamming+1)·|docs| rows
    on 16-bit-chunk keys; near-uniform hash chunks keep partitions
    balanced, and the guard bounds the degenerate-key worst case at
    O(bucket) output per task, never O(bucket²)."""
    nchunks = max_hamming + 1
    if 64 % nchunks:
        raise ValueError("max_hamming + 1 must divide 64")
    width = 64 // nchunks
    mask = (1 << width) - 1
    sig = simhash64(docs)
    parts = []
    for i in range(nchunks):
        parts.append(sig.select(
            "doc_id", "simhash", F.lit(i).alias("chunk_ix"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask)).alias("chunk_val")))
    chunks = parts[0]
    for p in parts[1:]:
        chunks = chunks.unionByName(p)

    star = None
    if max_bucket:
        from pyspark.sql import Window

        # unbounded count/min over the bucket need no sort; the rep's
        # OWN simhash rides along via a struct-min (min doc_id first)
        w = Window.partitionBy("chunk_ix", "chunk_val")
        flagged = (chunks
                   .withColumn("bsz", F.count("*").over(w))
                   .withColumn("rep", F.min(
                       F.struct("doc_id", "simhash")).over(w)))
        chunks = (flagged.where(F.col("bsz") <= max_bucket)
                  .select("doc_id", "simhash", "chunk_ix", "chunk_val"))
        star = (flagged.where((F.col("bsz") > max_bucket)
                              & (F.col("doc_id")
                                 != F.col("rep.doc_id")))
                .select(F.col("rep.doc_id").alias("doc_a"),
                        F.col("doc_id").alias("doc_b"),
                        F.col("rep.simhash").alias("sim_a"),
                        F.col("simhash").alias("sim_b")))

    left = chunks.toDF("doc_a", "sim_a", "chunk_ix", "chunk_val")
    right = chunks.toDF("doc_b", "sim_b", "chunk_ix", "chunk_val")
    cand = (left.join(right, ["chunk_ix", "chunk_val"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "sim_a", "sim_b"))
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.dropDuplicates(["doc_a", "doc_b"])
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def embedding_neardup_pairs(emb: DataFrame, threshold_milli: int = 990,
                            n_bands: int = 4, band_bits: int = 8) -> DataFrame:
    """Embedding-cosine near-dup: MULTI-BAND sign LSH. Band i buckets
    on the sign pattern of dims [i*band_bits, (i+1)*band_bits); a pair
    is a candidate if it collides in ANY band (the standard OR-of-
    bands construction — one band alone misses near-dups whose sign
    flips happen to fall inside that band's slice, which is why the
    round-1 single-band variant under-recalled). Candidates are
    deduped across bands BEFORE the exact cosine so each pair's dot
    product is computed once. Returns (vec_a, vec_b) pairs with exact
    cosine >= threshold_milli/1000.

    Scale shape: each band's self-join shuffles on its bucket key;
    n_bands * |emb| rows total, bucket cardinality 2^band_bits per
    band keeps partitions balanced for roughly-centered embeddings.
    """
    band_cols = []
    for band in range(n_bands):
        lo = band * band_bits
        band_cols.append(
            F.concat_ws("", *[
                (F.element_at("embedding", lo + i + 1) >= 0)
                .cast("int").cast("string")
                for i in range(band_bits)]).alias(f"band_{band}"))
    sig = emb.select("vec_id", "embedding", *band_cols)

    cand = None
    for band in range(n_bands):
        a = sig.select(F.col("vec_id").alias("vec_a"),
                       F.col("embedding").alias("emb_a"),
                       F.col(f"band_{band}").alias("bucket"))
        b = sig.select(F.col("vec_id").alias("vec_b"),
                       F.col("embedding").alias("emb_b"),
                       F.col(f"band_{band}").alias("bucket"))
        pairs = (a.join(b, "bucket")
                 .where(F.col("vec_a") < F.col("vec_b"))
                 .select("vec_a", "vec_b", "emb_a", "emb_b"))
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.dropDuplicates(["vec_a", "vec_b"])

    dot = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"),
                   lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: (x * x).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm(F.col("emb_a")) * norm(F.col("emb_b")))
    return (cand.withColumn("cos", cos)
            .where(F.col("cos") * 1000 >= threshold_milli)
            .select("vec_a", "vec_b"))


def line_dedup(docs: DataFrame, text_col: str = "text",
               min_chars: int = 1) -> DataFrame:
    """Corpus-wide exact LINE deduplication (the C4/RefinedWeb rule:
    a line occurring more than once across the corpus is kept only at
    its first occurrence and deleted everywhere else).

    Semantics: split each document on ``\\n``; every line of at least
    ``min_chars`` characters participates; for each distinct
    participating line the single winner is the occurrence with the
    smallest (doc_id, position); all other occurrences are dropped
    and the documents are reassembled in original line order. Lines
    shorter than ``min_chars`` (e.g. blanks, markup stubs) never
    participate and are always kept.

    Scale (100 TB story): the winner election is a map-side-combining
    aggregation keyed on md5(line) — uniform shuffle keys by
    construction, same design as exact_dedup_groups — followed by an
    equi-join of the tiny (digest, winner) relation back onto the
    exploded lines and ONE reassembly shuffle on doc_id. No window
    over the whole corpus, no driver-side state; skew is bounded
    because a hot line (boilerplate navbars — the very thing this
    removes) still aggregates via partial min before the shuffle.

    Winner election: MIN over struct(doc_id, pos) — lexicographic
    struct ordering on both engines (DuckDB's min over a struct is
    field-order lexicographic too), valid for the FULL int64 doc_id
    range. (A first cut packed doc_id*2^32+pos into one BIGINT; the
    pipeline-composition test caught it overflowing under ANSI for
    hash-derived doc_ids — exactly what production corpora use.)

    Returns (doc_id, text, n_kept, n_dropped) — text rebuilt with
    ``\\n``, empty when every line was dropped.
    """
    lines = (docs
             .select("doc_id",
                     F.posexplode(F.split(F.col(text_col), "\n"))
                     .alias("pos", "line"))
             .withColumn("participates",
                         F.length("line") >= F.lit(int(min_chars)))
             .withColumn("digest",
                         F.when(F.col("participates"), F.md5("line"))))
    winners = (lines.where("participates")
               .groupBy("digest")
               .agg(F.min(F.struct("doc_id", "pos")).alias("w")))
    kept = (lines.join(winners, "digest", "left")
            .where((~F.col("participates"))
                   | ((F.col("doc_id") == F.col("w.doc_id"))
                      & (F.col("pos") == F.col("w.pos")))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(
                        "\n",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"])).alias("text"),
                    F.count("*").alias("n_kept")))
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    base = docs.select("doc_id", n_lines.alias("n_lines"))
    return (base.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text", F.lit("")).alias("text"),
                    F.coalesce("n_kept", F.lit(0)).cast("int")
                    .alias("n_kept"),
                    (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
                    .cast("int").alias("n_dropped")))


def span_dedup_flags(docs: DataFrame, k: int = 8,
                     text_col: str = "text") -> DataFrame:
    """Duplicated-span detection — the deduplicate-text-datasets
    signal (Lee et al. 2022: substrings repeated across a corpus are
    memorization fuel) at word granularity: flag every k-word
    sliding window whose exact text occurs more than once in the
    corpus, and roll the count up per document.

    Returns (doc_id, n_windows, n_dup_windows, dup_ppm) where
    dup_ppm = n_dup_windows * 10^6 div n_windows (0 for docs shorter
    than k words). Integer floor arithmetic end-to-end — the gate
    hashes it exactly against the DuckDB twin.

    Scale: windows explode to ~|tokens| rows, but the aggregation is
    keyed on md5(window) — uniform shuffle keys, map-side partial
    counts absorb hot boilerplate spans before the shuffle (same
    design as line_dedup); the count relation joins back by digest
    and rolls up per doc_id. No suffix array is materialized: at
    100 TB the window-hash count IS the tractable sketch of one,
    trading span maximality for two shuffles."""
    ws = F.split(F.col(text_col), " ")
    wins = (docs
            .withColumn("ws", ws)
            .withColumn("nw",
                        F.greatest(F.size("ws") - F.lit(k - 1),
                                   F.lit(0)))
            .select("doc_id", "nw",
                    F.explode(
                        F.when(F.col("nw") > 0,
                               F.expr(f"sequence(1, size(ws) - "
                                      f"{k - 1})"))
                        .otherwise(F.array().cast("array<int>")))
                    .alias("i"),
                    F.col("ws"))
            .select("doc_id",
                    F.md5(F.concat_ws(
                        " ", F.expr(f"slice(ws, i, {k})")))
                    .alias("digest")))
    counts = wins.groupBy("digest").agg(F.count("*").alias("n_occ"))
    per_doc = (wins.join(counts, "digest")
               .groupBy("doc_id")
               .agg(F.sum(F.when(F.col("n_occ") > 1, 1)
                          .otherwise(0)).alias("n_dup_windows")))
    return (docs.select("doc_id",
                        F.greatest(
                            F.size(ws) - F.lit(k - 1),
                            F.lit(0)).alias("n_windows_all"))
            .join(per_doc.select("doc_id", "n_dup_windows"),
                  "doc_id", "left")
            .select(
                "doc_id",
                F.col("n_windows_all").cast("long")
                .alias("n_windows"),
                F.coalesce("n_dup_windows", F.lit(0)).cast("long")
                .alias("n_dup_windows"),
                F.expr("CASE WHEN n_windows_all > 0 THEN "
                       "(coalesce(n_dup_windows, 0L) * 1000000) "
                       "div n_windows_all ELSE 0 END")
                .cast("long").alias("dup_ppm")))


def span_dedup_oracle_sql(k: int = 8) -> str:
    """DuckDB twin of :func:`span_dedup_flags` over documents."""
    return f"""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents),
        wins AS (
          SELECT doc_id,
                 md5(array_to_string(ws[t.i:t.i + {k - 1}], ' '))
                   AS digest
          FROM w, UNNEST(range(1, len(ws) - {k - 2})) AS t(i)
          WHERE len(ws) >= {k}),
        counts AS (
          SELECT digest, count(*) AS n_occ FROM wins GROUP BY digest),
        per_doc AS (
          SELECT wins.doc_id,
                 sum(CASE WHEN counts.n_occ > 1 THEN 1 ELSE 0 END)
                   AS n_dup
          FROM wins JOIN counts ON wins.digest = counts.digest
          GROUP BY wins.doc_id)
        SELECT d.doc_id,
               greatest(len(string_split(d.text, ' ')) - {k - 1},
                        0)::BIGINT AS n_windows,
               coalesce(p.n_dup, 0)::BIGINT AS n_dup_windows,
               (CASE WHEN len(string_split(d.text, ' ')) >= {k}
                     THEN (coalesce(p.n_dup, 0) * 1000000)
                          // (len(string_split(d.text, ' '))
                              - {k - 1})
                     ELSE 0 END)::BIGINT AS dup_ppm
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


def contamination_flags(docs: DataFrame, benchmarks: DataFrame,
                        k: int = 8, text_col: str = "text"
                        ) -> DataFrame:
    """Benchmark decontamination signal (the eval-leakage check every
    LLM data pipeline runs before training): flag every k-word
    window of ``docs`` whose exact text also appears in
    ``benchmarks`` (doc_id, text), and roll up per corpus document.

    Returns (doc_id, n_windows, n_contaminated, contaminated) where
    ``contaminated`` is true iff any window matched. Same md5-keyed
    shape as span_dedup_flags; the benchmark window set is typically
    tiny (eval suites), so the semi-join broadcasts — corpus rows
    never shuffle."""
    def windows(df):
        ws = F.split(F.col(text_col), " ")
        return (df
                .withColumn("ws", ws)
                .where(F.size("ws") >= k)
                .select("doc_id",
                        F.explode(F.expr(
                            f"sequence(1, size(ws) - {k - 1})"))
                        .alias("i"), "ws")
                .select("doc_id",
                        F.md5(F.concat_ws(
                            " ", F.expr(f"slice(ws, i, {k})")))
                        .alias("digest")))

    bench = windows(benchmarks).select("digest").distinct()
    wins = windows(docs)
    hits = (wins.join(F.broadcast(bench), "digest")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contaminated")))
    ws = F.split(F.col(text_col), " ")
    return (docs.select(
        "doc_id",
        F.greatest(F.size(ws) - F.lit(k - 1), F.lit(0))
        .cast("long").alias("n_windows"))
        .join(hits, "doc_id", "left")
        .select("doc_id", "n_windows",
                F.coalesce("n_contaminated", F.lit(0)).cast("long")
                .alias("n_contaminated"),
                (F.coalesce("n_contaminated", F.lit(0)) > 0)
                .alias("contaminated")))


def contamination_oracle_sql(k: int = 8,
                             bench_pred: str = "doc_id < 20"
                             ) -> str:
    """DuckDB twin of :func:`contamination_flags` with benchmarks =
    documents WHERE ``bench_pred`` and corpus = the rest."""
    return f"""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents),
        wins AS (
          SELECT doc_id,
                 md5(array_to_string(ws[t.i:t.i + {k - 1}], ' '))
                   AS digest
          FROM w, UNNEST(range(1, len(ws) - {k - 2})) AS t(i)
          WHERE len(ws) >= {k}),
        bench AS (
          SELECT DISTINCT digest FROM wins
          WHERE doc_id IN (SELECT doc_id FROM documents
                           WHERE {bench_pred})),
        corpus AS (SELECT * FROM wins
                   WHERE doc_id NOT IN (SELECT doc_id FROM documents
                                        WHERE {bench_pred})),
        hits AS (
          SELECT corpus.doc_id, count(*) AS n
          FROM corpus JOIN bench ON corpus.digest = bench.digest
          GROUP BY corpus.doc_id)
        SELECT d.doc_id,
               greatest(len(string_split(d.text, ' ')) - {k - 1},
                        0)::BIGINT AS n_windows,
               coalesce(h.n, 0)::BIGINT AS n_contaminated,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE NOT ({bench_pred.replace('doc_id', 'd.doc_id')})
    """


def ingest_dedup_flags(existing: DataFrame, incoming: DataFrame,
                       max_hamming: int = 3,
                       text_col: str = "text") -> DataFrame:
    """Ingest-time dedup against the ALREADY-INGESTED corpus — the
    snapshot-vs-delta shape every rolling pipeline runs (within-batch
    dedup alone re-admits content the corpus already holds).

    Per incoming doc: ``exact_dup`` iff its md5(text) exists in
    ``existing``; ``near_dup`` iff some existing doc's SimHash is
    within ``max_hamming``; ``keep`` = neither. Near-dup candidates
    come from the same pigeonhole chunk join as simhash_pairs
    (max_hamming+1 chunks of 64 bits — any pair within the ball
    agrees on >= 1 chunk), verified exactly with bit_count(xor).

    Scale shape: exact is a digest-keyed left-semi join; near is a
    chunk equi-join of (max_hamming+1)·|incoming| probe rows against
    the existing side's chunk table (at steady state existing >>
    incoming, and the chunk table is a reusable derivative of the
    corpus snapshot); all verification stays JVM-side."""
    nchunks = max_hamming + 1
    if 64 % nchunks:
        raise ValueError("max_hamming + 1 must divide 64")
    width = 64 // nchunks
    mask = (1 << width) - 1

    ex_md5 = existing.select(
        F.md5(F.col(text_col)).alias("digest")).distinct()
    exact = (incoming
             .select("doc_id", F.md5(F.col(text_col)).alias("digest"))
             .join(ex_md5, "digest", "left_semi")
             .select("doc_id", F.lit(True).alias("exact_dup")))

    def chunked(sig, id_alias, sig_alias):
        parts = []
        for i in range(nchunks):
            parts.append(sig.select(
                F.col("doc_id").alias(id_alias),
                F.col("simhash").alias(sig_alias),
                F.lit(i).alias("chunk_ix"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask)).alias("chunk_val")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def as_text(df):  # simhash64 reads the fixed (doc_id, text) shape
        return df.select("doc_id", F.col(text_col).alias("text"))

    ex_chunks = chunked(simhash64(as_text(existing)), "ex_id", "ex_sig")
    in_chunks = chunked(simhash64(as_text(incoming)), "in_id", "in_sig")
    near = (in_chunks.join(ex_chunks, ["chunk_ix", "chunk_val"])
            .where(F.bit_count(
                F.col("in_sig").bitwiseXOR(F.col("ex_sig")))
                <= max_hamming)
            .select(F.col("in_id").alias("doc_id"))
            .distinct()
            .withColumn("near_dup", F.lit(True)))

    return (incoming.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("exact_dup", F.lit(False))
                .alias("exact_dup"),
                F.coalesce("near_dup", F.lit(False))
                .alias("near_dup"))
            .withColumn("keep",
                        ~F.col("exact_dup") & ~F.col("near_dup")))
