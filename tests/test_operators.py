"""Training-data operator tests: dedup family, similarity search."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    from cuphic_spark.operators.dedup import exact_dedup_groups

    corpus = docs.unionByName(docs.where(F.col("doc_id") % 5 == 0))
    groups = exact_dedup_groups(corpus).collect()
    n_even = docs.where(F.col("doc_id") % 5 == 0).count()
    assert len(groups) == n_even
    assert all(g.n_copies == 2 for g in groups)


def test_minhash_lsh_finds_planted_neardup(spark, docs):
    from cuphic_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base = docs.limit(20).select("doc_id", "text")
    # plant a near-duplicate: doc_id+10000, one word appended
    dup = base.select((F.col("doc_id") + 10000).alias("doc_id"),
                      F.concat("text", F.lit(" tail")).alias("text"))
    corpus = base.unionByName(dup)
    pairs = minhash_lsh_pairs(corpus, k=3, n_hashes=8, band_size=2)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(i, i + 10000) for i in
               [r.doc_id for r in base.collect()]}
    # banding with 4 bands of 2 should catch most planted pairs
    assert len(got & planted) >= len(planted) * 0.6
    # verification stage: planted pairs have very high jaccard
    verified = ngram_jaccard_pairs(
        corpus, pairs.where(F.col("doc_b") - F.col("doc_a") == 10000))
    assert all(r.jaccard_milli > 800 for r in verified.collect())


def test_simhash_near_for_neardups(spark, docs):
    from cuphic_spark.operators.dedup import simhash64

    base = docs.limit(10).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 10000).alias("doc_id"),
                      F.concat("text", F.lit(" x")).alias("text"))
    sims = {r.doc_id: r.simhash
            for r in simhash64(base.unionByName(dup)).collect()}
    for i in list(sims):
        if i < 10000:
            d = bin((sims[i] ^ sims[i + 10000]) & ((1 << 64) - 1)).count("1")
            assert d <= 16  # near-dup -> small hamming distance


def test_cosine_vs_quantized_agree_on_top1(spark, emb):
    from cuphic_spark.operators.similarity import (
        cosine_topk,
        inner_product_topk_quantized,
    )

    queries = (emb.where(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    cos = {(r.query_id, r.rank): r.neighbor_id
           for r in cosine_topk(emb, queries, k=3).collect()}
    quant = {(r.query_id, r.rank): r.neighbor_id
             for r in inner_product_topk_quantized(emb, queries, k=3)
             .collect()}
    # different metrics (cosine vs MIPS) but on near-unit random
    # embeddings the top-1 should usually coincide
    agree = sum(cos[(q, 1)] == quant[(q, 1)] for q in (0, 1))
    assert agree >= 1


def test_ivf_topk_subset_of_brute(spark, emb):
    from cuphic_spark.operators.similarity import cosine_topk, ivf_topk

    queries = (emb.where(F.col("vec_id") == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    brute = [r.neighbor_id for r in
             cosine_topk(emb, queries, k=50).collect()]
    ivf = [r.neighbor_id for r in
           ivf_topk(emb, queries, k=10, bits=4).collect()]
    # pruned search returns a (possibly partial) subset of the true
    # neighborhood — recall against brute top-50 should be decent
    assert len(ivf) > 0
    assert len(set(ivf) & set(brute)) / len(ivf) >= 0.2


def test_lsh_recall_math_and_presets():
    """Round-4 verdict item 3: the 1-(1-s^r)^b recall helper, its
    knee, and the documented production presets — pure math, pinned
    against hand-computed values."""
    import pytest as _pytest

    from cuphic_spark.operators.dedup import (
        LSH_PRESETS,
        lsh_recall,
        lsh_threshold,
    )

    # hand-computed: toy (8,2) b=4: 1-(1-0.64)^4
    assert abs(lsh_recall(0.8, 8, 2) - (1 - 0.36 ** 4)) < 1e-12
    # production (128,8) b=16 at the dedup point
    assert abs(lsh_recall(0.8, 128, 8)
               - (1 - (1 - 0.8 ** 8) ** 16)) < 1e-12
    assert 0.94 < lsh_recall(0.8, 128, 8) < 0.96
    assert lsh_recall(0.5, 128, 8) < 0.07  # steep cutoff below knee
    # knee: recall at the threshold is ~1-1/e
    for nh, bs in ((8, 2), (128, 8), (128, 4)):
        knee = lsh_threshold(nh, bs)
        assert 0.0 < knee < 1.0
        assert 0.5 < lsh_recall(knee, nh, bs) < 0.75
        # monotone in s
        assert lsh_recall(knee - 0.1, nh, bs) < lsh_recall(knee, nh, bs) \
            < lsh_recall(min(knee + 0.1, 1.0), nh, bs)
    # presets are internally consistent with the docstring table
    assert LSH_PRESETS["toy"] == {"n_hashes": 8, "band_size": 2}
    assert abs(lsh_threshold(**LSH_PRESETS["web_08"]) - 0.707) < 0.01
    assert abs(lsh_threshold(**LSH_PRESETS["web_05"]) - 0.420) < 0.01
    for p in LSH_PRESETS.values():
        assert p["n_hashes"] % p["band_size"] == 0
    with _pytest.raises(ValueError, match="multiple"):
        lsh_recall(0.5, 10, 4)



def test_minhash_lsh_hot_band_star_capped(spark):
    """Hot-band guard: a degenerate band value (here: 300 identical
    docs — every band collides) must emit O(n) star pairs to the
    bucket representative, never the O(n^2) all-pairs blowup; small
    buckets (the real LSH signal) are unaffected."""
    from cuphic_spark.operators.dedup import minhash_lsh_pairs

    boiler = "the same boilerplate text repeated for every document here"
    rows = [(i, boiler) for i in range(300)]
    rows += [(1000, "unique alpha beta gamma delta epsilon zeta"),
             (1001, "unique alpha beta gamma delta epsilon zeta eta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_lsh_pairs(docs, k=3, n_hashes=8, band_size=2,
                              max_bucket=50)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    hot = {p for p in got if p[1] < 1000}
    star = {(0, i) for i in range(1, 300)}
    assert hot == star  # bounded: rep-star, not 300*299/2 pairs
    assert (1000, 1001) in got  # small-bucket near-dup still found

    # guard off: the same hot bucket IS quadratic (documented contract)
    full = minhash_lsh_pairs(docs, k=3, n_hashes=8, band_size=2,
                             max_bucket=0)
    n_hot_full = full.where(F.col("doc_b") < 1000).count()
    assert n_hot_full == 300 * 299 // 2


def test_dedup_clusters_transitive_chains(spark, docs):
    """Near-dup RESOLUTION must merge transitively: a chain
    base ~ base+' tail' ~ base+' tail tail' is ONE cluster labeled by
    the min doc_id, even if LSH misses some individual pair."""
    from cuphic_spark.operators.dedup import (
        connected_components_star,
        dedup_clusters,
    )

    base = docs.limit(12).select("doc_id", "text")
    d1 = base.select((F.col("doc_id") + 10000).alias("doc_id"),
                     F.concat("text", F.lit(" tail")).alias("text"))
    d2 = base.select((F.col("doc_id") + 20000).alias("doc_id"),
                     F.concat("text", F.lit(" tail tail")).alias("text"))
    corpus = base.unionByName(d1).unionByName(d2)
    comp = {r.doc_id: r.component for r in dedup_clusters(corpus).collect()}
    ids = [r.doc_id for r in base.collect()]
    hits = 0
    for i in ids:
        trio = [i, i + 10000, i + 20000]
        if all(t in comp for t in trio):
            assert len({comp[t] for t in trio}) == 1, trio
            assert comp[i] == min(c for d, c in comp.items()
                                  if comp[d] == comp[i])
            hits += 1
    assert hits >= len(ids) * 0.8  # LSH recall on planted chains

    # pure-graph sanity: a 5-long path converges past one round
    path = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                 "doc_a long, doc_b long")
    cc = {r.node: r.component
          for r in connected_components_star(path).collect()}
    assert set(cc.values()) == {0} and len(cc) == 6


def test_simhash_pairs_hamming_ball(spark, docs):
    """Chunk-pigeonhole pairing has FULL recall within the hamming
    ball: every planted one-word-appended near-dup within distance 3
    must appear with its exact distance."""
    from cuphic_spark.operators.dedup import simhash64, simhash_pairs

    base = docs.limit(15).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 10000).alias("doc_id"),
                      F.concat("text", F.lit(" x")).alias("text"))
    corpus = base.unionByName(dup)
    sims = {r.doc_id: r.simhash for r in simhash64(corpus).collect()}
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_pairs(corpus, max_hamming=3).collect()}
    for i in [r.doc_id for r in base.collect()]:
        d = bin((sims[i] ^ sims[i + 10000]) & ((1 << 64) - 1)).count("1")
        if d <= 3:  # pigeonhole guarantee applies
            assert got[(i, i + 10000)] == d, (i, d)
    assert all(h <= 3 for h in got.values())


def test_repetition_and_tfidf(spark):
    """Repetition fractions on a hand-computable corpus (spam doc
    spikes, natural text sits low, 1-word doc reports 0 bigram) and
    TF-IDF top-k with deterministic lexicographic tie-break."""
    from cuphic_spark.operators.textstats import (
        repetition_stats,
        top_terms_tfidf,
    )

    docs = spark.createDataFrame(
        [(1, "buy now buy now buy now"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "solo")],
        "doc_id long, text string")
    rep = {r.doc_id: (r.n_words, r.top_word_permille,
                      r.top_bigram_permille)
           for r in repetition_stats(docs).collect()}
    assert rep[1] == (6, 500, 600)   # 3x 'buy'/6; 3x 'buy now'/5
    assert rep[2] == (9, 222, 125)   # 2x 'the'/9; all bigrams once
    assert rep[3] == (1, 1000, 0)

    top = top_terms_tfidf(docs, k=2).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term))
    # doc 1: buy/now tie on score -> lexicographic
    assert by_doc[1] == [(1, "buy"), (2, "now")]
    # doc 3: 'solo' unique to it -> max idf, rank 1
    assert by_doc[3][0][1] == "solo"
    # deterministic across runs
    assert top == top_terms_tfidf(docs, k=2).collect()


def test_warc_reader_writer(spark):
    """WARC container: roundtrip under per-record gzip, plain, and
    whole-file gzip; non-response records skipped by the Spark face;
    identical inputs produce identical bytes (gzip mtime pinned to
    0); chunked transfer-encoding decodes (incl. the no-space header
    spelling); truncated gzip members and invalid chunk framing fail
    loudly."""
    import gzip as _gzip

    import pytest as _pytest

    from cuphic_spark.sources.warc import (
        dechunk,
        encode_chunked,
        extract_http_payload,
        iter_warc_records,
        read_warc,
        write_warc,
    )

    recs = [(f"https://h{i}.example/doc/{i}",
             f"2026-08-{1 + i % 28:02d}T00:00:00Z",
             f"<doc><p>page {i}</p></doc>".encode())
            for i in range(7)]
    plain = write_warc(recs, per_record_gzip=False)
    for data in (write_warc(recs), plain, _gzip.compress(plain)):
        got = [(h["warc-target-uri"], h["warc-date"],
                extract_http_payload(b))
               for h, b in iter_warc_records(data)]
        assert got == [(u, d, p) for u, d, p in recs]

    # a request record interleaved between responses is skipped by
    # read_warc but seen by the raw iterator
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: https://h0.example/doc/0\r\n"
           b"Content-Length: 4\r\n\r\nGET!\r\n\r\n")
    mixed = _gzip.compress(req) + write_warc(recs[:2])
    assert len(list(iter_warc_records(mixed))) == 3
    files = spark.createDataFrame([(bytearray(mixed),)],
                                  "content binary")
    rows = read_warc(files).orderBy("url").collect()
    assert [(r.url, bytes(r.html)) for r in rows] == [
        (recs[0][0], recs[0][2]), (recs[1][0], recs[1][2])]
    assert rows[0].warc_ts == recs[0][1]

    with _pytest.raises(ValueError, match="gzip"):
        list(iter_warc_records(write_warc(recs)[:-9]))

    # byte determinism: the gzip member header must not carry a
    # wall-clock mtime (task-retry byte-identity contract)
    import time as _time
    a = write_warc(recs)
    _time.sleep(1.1)
    assert write_warc(recs) == a

    # chunked transfer-encoding: roundtrip through the writer's
    # chunked framing, both header spellings, extension tolerated
    chunked = write_warc(recs, chunk=7)
    got = [(h["warc-target-uri"], extract_http_payload(b))
           for h, b in iter_warc_records(chunked)]
    assert got == [(u, p) for u, _d, p in recs]
    body = encode_chunked(b"hello world payload", 5)
    assert dechunk(body) == b"hello world payload"
    assert extract_http_payload(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding:chunked\r\n\r\n"
        + body) == b"hello world payload"   # no space after colon
    assert dechunk(b"5;ext=1\r\nabcde\r\n0\r\n\r\n") == b"abcde"
    # invalid framing refuses loudly, by name
    with _pytest.raises(ValueError, match="chunk size"):
        dechunk(b"zz\r\nabc\r\n0\r\n\r\n")
    with _pytest.raises(ValueError, match="truncated"):
        dechunk(b"a\r\nshort\r\n")
    with _pytest.raises(ValueError, match="CRLF after chunk"):
        dechunk(b"3\r\nabcXX0\r\n\r\n")


def test_gopher_quality_rules(spark):
    """Each Gopher rule flips the pass flag in isolation: a
    compliant base doc passes; bullet-dominated lines, ellipsis-
    heavy line endings, symbol floods, alpha-poor words, and missing
    stop words each fail their own rule."""
    from cuphic_spark.operators.textstats import gopher_quality

    base = ("the quick brown fox jumps over the lazy dog and that "
            "fox would have run with more speed if it could be fast")
    docs = spark.createDataFrame(
        [(1, base),                                   # passes
         (2, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),
         (3, base + "\nx...\ny...\nz..."),            # >30% ellipsis
         (4, base + " " + "# " * 10),                 # symbol ratio
         (5, "12 34 " * 20 + "the be"),               # alpha-poor
         (6, "word " * 30 + "tail"),                  # no stop words
         (7, "a b")],                                 # too short
        "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_quality(
        docs, min_words=5).collect()}
    assert got[1]["gopher_pass"] == 1
    assert got[2]["n_bullet_lines"] == 10
    assert got[2]["gopher_pass"] == 0
    assert got[3]["n_ellipsis_lines"] == 3
    assert got[3]["gopher_pass"] == 0
    assert got[4]["n_symbols"] == 10
    assert got[4]["gopher_pass"] == 0
    assert got[5]["gopher_pass"] == 0                 # <80% alpha
    assert got[6]["n_stopwords"] == 0
    assert got[6]["gopher_pass"] == 0
    assert got[7]["n_words"] == 2
    assert got[7]["gopher_pass"] == 0
    # stop-word count is DISTINCT presence, not occurrences
    assert got[1]["n_stopwords"] >= 5


def test_pii_scrub_and_chunking(spark):
    """PII redaction edge cases (adjacent PII, no PII, email with
    digits the IP pass must not re-mangle) and chunking invariants
    (full coverage, overlap arithmetic, short docs yield one chunk,
    stride validation)."""
    import pytest as _pytest

    from cuphic_spark.operators.textstats import chunk_text, scrub_pii

    docs = spark.createDataFrame(
        [(1, "a1b2@x9.io 1.2.3.4 +12 345-67890 tail"),
         (2, "nothing sensitive"),
         (3, "ver 1.2.3.4.5 stays partly"),  # 5 octets: first 4 match
         (4, None)],                          # null text -> flag False
        "doc_id long, text string")
    got = {r.doc_id: (r.scrubbed, r.pii_found)
           for r in scrub_pii(docs).collect()}
    assert got[1] == ("<EMAIL> <IP> <PHONE> tail", True)
    assert got[2] == ("nothing sensitive", False)
    assert got[3][0] == "ver <IP>.5 stays partly"
    assert got[4] == (None, False)
    # the regex chain must be evaluated ONCE per row: exactly one
    # chain of the 3 patterns in the optimized plan, not two
    plan = scrub_pii(docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("regexp_replace") == 3

    words = " ".join(f"w{i}" for i in range(23))
    d = spark.createDataFrame([(1, words), (2, "short doc"), (3, "")],
                              "doc_id long, text string")
    rows = chunk_text(d, max_words=10, stride=7).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk
    # 23 words @ (10, 7): chunks at 0,7,14 -> 1+ceil(13/7)=3 chunks
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert by_doc[1][0].split(" ") == [f"w{i}" for i in range(10)]
    assert by_doc[1][1].split(" ") == [f"w{i}" for i in range(7, 17)]
    assert by_doc[1][2].split(" ") == [f"w{i}" for i in range(14, 23)]
    # every word is covered by the union of chunks
    assert set(words.split()) == {
        w for c in by_doc[1].values() for w in c.split(" ")}
    assert by_doc[2] == {0: "short doc"}
    assert by_doc[3] == {0: ""}          # empty doc: kept, not lost
    with _pytest.raises(ValueError, match="stride"):
        chunk_text(d, max_words=10, stride=0)


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing's core property (Schleimer et al.): documents
    sharing a run of >= w + k - 1 words share at least one selected
    fingerprint HASH; and selection density is ~2/(w+1)."""
    from cuphic_spark.operators.textstats import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w + k - 1
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, "seven eight " + shared + " nine ten eleven twelve"),
        (3, "totally different words with no overlap at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=3, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.gram_hash)
    assert by_doc[1] & by_doc[2]          # the guarantee
    assert not (by_doc[1] & by_doc[3])
    # density: far fewer fingerprints than grams
    n_grams_1 = len(rows[0][1].split()) - 2
    assert len(by_doc[1]) <= n_grams_1 * 0.75


def test_ivf_indexed_prunes_partitions_and_matches(spark, emb, tmp_path):
    """The persisted IVF index must (a) return exactly what the
    in-memory ivf_topk returns and (b) physically read ONLY the
    probed cell directories (partition pruning, via inputFiles)."""
    import os

    from cuphic_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, bits=4)
    n_cells_total = sum(1 for d in os.listdir(path)
                        if d.startswith("cell="))

    queries = (emb.where(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    got = ivf_topk_indexed(spark, path, queries, k=5, bits=4)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.cos_micro)
            for r in ivf_topk(emb, queries, k=5, bits=4).collect()}
    got_rows = {(r.query_id, r.rank): (r.neighbor_id, r.cos_micro)
                for r in got.collect()}
    assert got_rows == want

    # the physical scan must carry a PartitionFilter on cell (the
    # probe set), i.e. only probed directories are read. inputFiles()
    # reports the UNPRUNED file index, so assert on the executed plan.
    import re

    from cuphic_spark.plans import executed_plan

    m = re.search(r"PartitionFilters: \[cell[^\]]*IN \(([^)]*)\)",
                  executed_plan(got))
    assert m, "no cell PartitionFilter in the probe scan"
    pruned_to = len(m.group(1).split(","))
    # 2 queries x (1 own + 4 neighbor) cells, deduped — far fewer
    # than the index's cell count
    assert pruned_to <= 10 < n_cells_total


def test_simhash_pairs_hot_chunk_star_capped(spark):
    """Hot-chunk guard (round-3 verdict item 3): a degenerate chunk
    value (here: 200 identical docs — every chunk collides) must emit
    O(n) star pairs to the bucket representative, never the O(n^2)
    all-pairs blowup; small buckets keep full in-ball recall."""
    from cuphic_spark.operators.dedup import simhash_pairs

    boiler = "identical boilerplate words for every single document"
    rows = [(i, boiler) for i in range(200)]
    rows += [(1000, "unique alpha beta gamma delta epsilon zeta eta"),
             (1001, "unique alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = simhash_pairs(docs, max_hamming=3, max_bucket=50)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    hot = {p for p in got if p[1] < 1000}
    # identical docs -> identical simhash -> every star pair verifies
    # at hamming 0, so the capped bucket yields exactly the rep star
    assert hot == {(0, i) for i in range(1, 200)}
    assert all(got[p] == 0 for p in hot)
    # the small bucket (two near-dup uniques) is unaffected — same
    # result as with the guard off
    small_on = {p: h for p, h in got.items() if p[0] >= 1000}
    full = simhash_pairs(docs, max_hamming=3, max_bucket=0)
    small_off = {(r.doc_a, r.doc_b): r.hamming
                 for r in full.collect() if r.doc_a >= 1000}
    assert small_on == small_off

    # guard off: the hot bucket IS quadratic (documented contract)
    n_hot_full = full.where(F.col("doc_b") < 1000).count()
    assert n_hot_full == 200 * 199 // 2


def test_connected_components_nonconvergence_raises(spark):
    """Advisor round-3: components that have not reached their star
    fixpoint within max_iter must fail LOUDLY instead of silently
    returning split clusters."""
    import pytest as _pytest

    from cuphic_spark.operators.dedup import connected_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  "doc_a long, doc_b long")

    def persistent_ids():
        jsc = spark.sparkContext._jsc
        return {int(i) for i in
                jsc.getPersistentRDDs().keySet().toArray()}

    before = persistent_ids()
    # one round contracts the chain but cannot also confirm the
    # fixpoint (that takes a round with no change)
    with _pytest.raises(ValueError, match="did not converge"):
        connected_components_star(chain, max_iter=1)
    # advisory pin: the raise path must free the last round's
    # localCheckpoint blocks, not leak them into the block manager
    assert persistent_ids() == before
    # enough rounds: one component labeled by the min node
    cc = {r.node: r.component
          for r in connected_components_star(chain).collect()}
    assert set(cc.values()) == {0} and len(cc) == 10


def test_connected_components_free_callback_releases_blocks(spark):
    """Advisory pin: the result derives from the final round's
    localCheckpoint, which df.unpersist() cannot release — the
    components expose free_components() for callers done with the
    labels, and calling it empties the leaked set."""
    from cuphic_spark.operators.dedup import connected_components_star

    def persistent_ids():
        jsc = spark.sparkContext._jsc
        return {int(i) for i in
                jsc.getPersistentRDDs().keySet().toArray()}

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    before = persistent_ids()
    out = connected_components_star(edges)
    got = {r.node: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert persistent_ids() - before  # checkpoint blocks live
    out.free_components()
    assert persistent_ids() == before  # and released on demand

    # star raise path frees its checkpoint too (max_iter=0 can never
    # converge, so it must raise without leaking the initial edges)
    import pytest as _pytest

    before = persistent_ids()
    with _pytest.raises(ValueError, match="did not converge"):
        connected_components_star(edges, max_iter=0)
    assert persistent_ids() == before


def test_ivf_trained_centroids_beat_sign_cells(spark, tmp_path):
    """Round-4 verdict item 5: a k-means-trained coarse quantizer on
    a PLANTED clustered corpus must reach recall@5 (vs brute-force
    cosine) at least as high as the sign-cell baseline, training must
    be deterministic, and the probed plan must keep the literal
    partition-filter shape."""
    import re

    import numpy as np

    from cuphic_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
    )
    from cuphic_spark.plans import executed_plan

    # planted corpus: 8 tight clusters whose centers all sit in the
    # all-positive orthant — sign cells collapse to ONE cell is
    # avoided by jitter, but they cannot separate the clusters, while
    # k-means recovers them
    rng = np.random.default_rng(42)
    centers = rng.uniform(0.2, 1.0, (8, 12))
    vecs = []
    for i in range(320):
        c = centers[i % 8]
        vecs.append((i, (c + rng.normal(0, 0.03, 12)).tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    cents = train_ivf_centroids(emb, n_cells=8, max_iter=6)
    cents2 = train_ivf_centroids(emb, n_cells=8, max_iter=6)
    assert np.array_equal(cents, cents2)  # deterministic training

    queries = (emb.where(F.col("vec_id") < 6)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    brute = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}

    p_sign = str(tmp_path / "ivf_sign")
    p_km = str(tmp_path / "ivf_km")
    build_ivf_index(emb, p_sign, bits=4)
    build_ivf_index(emb, p_km, centroids=cents)

    sign_hits = {(r.query_id, r.neighbor_id) for r in
                 ivf_topk_indexed(spark, p_sign, queries, k=5,
                                  bits=4).collect()}
    km = ivf_topk_indexed(spark, p_km, queries, k=5, n_probe=2)
    km_hits = {(r.query_id, r.neighbor_id) for r in km.collect()}
    r_sign = len(sign_hits & brute) / len(brute)
    r_km = len(km_hits & brute) / len(brute)
    assert r_km >= r_sign, (r_km, r_sign)
    assert r_km >= 0.9  # tight planted clusters: near-exact recall
    # plan shape preserved: literal cell IN-list partition filter
    assert re.search(r"cell#\d+L? IN(SET| \()", executed_plan(km))


def test_ivf_indexed_probe_cap_falls_back(spark, emb, tmp_path):
    """Round-3 verdict item 4: above max_probe_cells the driver-side
    cell collect is skipped and the probe becomes a plain equi-join on
    cell — results identical to the literal-partition-filter path."""
    from cuphic_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )
    from cuphic_spark.plans import executed_plan

    path = str(tmp_path / "ivf_cap")
    build_ivf_index(emb, path, bits=4)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))

    pruned = ivf_topk_indexed(spark, path, queries, k=5, bits=4)
    capped = ivf_topk_indexed(spark, path, queries, k=5, bits=4,
                              max_probe_cells=1)  # force the fallback
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(map(lambda r: (key(r), r.neighbor_id, r.cos_micro),
                      capped.collect())) == \
        sorted(map(lambda r: (key(r), r.neighbor_id, r.cos_micro),
                   pruned.collect()))
    # the fallback plan must NOT carry the driver-collected literal
    # cell IN-list (runtime/dynamic pruning from the join is fine)
    import re

    # (Catalyst renders short lists as `IN (...)`, longer as `INSET`)
    assert not re.search(r"cell#\d+L? IN(SET| \()", executed_plan(capped))
    assert re.search(r"cell#\d+L? IN(SET| \()", executed_plan(pruned))


def test_connected_components_star_deep_chain(spark):
    """Large-star/small-star must resolve a 300-hop chain in O(log n)
    alternating rounds — the graph shape where min-label propagation
    (one hop per round) would need 299 rounds."""
    from cuphic_spark.operators.dedup import connected_components_star

    chain = spark.createDataFrame([(i, i + 1) for i in range(299)],
                                  "doc_a long, doc_b long")
    got = {r.node: r.component
           for r in connected_components_star(chain).collect()}
    assert set(got.values()) == {0} and len(got) == 300


def test_connected_components_star_matches_label(spark):
    """Star contraction equals a pure-Python union-find (components
    labeled by their min node) on a random graph with multiple
    components, self-loops, and isolated pairs."""
    import random

    from cuphic_spark.operators.dedup import connected_components_star

    rng = random.Random(11)
    edges = {(rng.randrange(200), rng.randrange(200))
             for _ in range(150)}
    edges |= {(500, 501), (600, 600)}  # isolated pair + self-loop
    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    star = {(r.node, r.component)
            for r in connected_components_star(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # root = min node
    assert star == {(x, find(x)) for x in parent}


def test_line_dedup_winner_semantics(spark):
    """Hand-built corpus: the duplicated long line survives only at
    its first (doc_id, pos); short lines never participate; a doc
    whose every line is dropped rebuilds to ''."""
    from cuphic_spark.operators.dedup import line_dedup

    rows = [
        (0, "unique alpha line\nshared boilerplate line\nok"),
        (1, "shared boilerplate line\nunique beta line\nok"),
        (2, "shared boilerplate line"),
        (3, "ok\nok\nok"),  # short lines: all kept, none participate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_chars=4).collect()}
    assert out[0].text == ("unique alpha line\n"
                           "shared boilerplate line\nok")
    assert out[0].n_dropped == 0
    # doc 1 loses the shared line (doc 0 pos 1 < doc 1 pos 0)
    assert out[1].text == "unique beta line\nok"
    assert out[1].n_kept == 2 and out[1].n_dropped == 1
    # doc 2 was ONLY the shared line -> rebuilt empty
    assert out[2].text == "" and out[2].n_kept == 0
    assert out[2].n_dropped == 1
    # 'ok' is below min_chars: kept everywhere, even repeated
    assert out[3].text == "ok\nok\nok" and out[3].n_dropped == 0


def test_mojibake_pairs_and_repair(spark):
    """The pair table is generated from the codec pair (never
    hand-typed) and the repair inverts a planted mis-decode exactly;
    clean text passes through byte-identical. Strings are built
    through the codecs here too — no mojibake literals in source."""
    from cuphic_spark.operators.webclean import (
        MOJIBAKE_PAIRS,
        fix_mojibake,
    )

    for moji, ch in MOJIBAKE_PAIRS:
        assert ch.encode("utf-8").decode("windows-1252") == moji
    # longest-first ordering: a shorter entry can never fire inside
    # a longer sequence that was still unapplied
    lens = [len(m) for m, _ in MOJIBAKE_PAIRS]
    assert lens == sorted(lens, reverse=True)
    # the five cp1252 holes are skipped, not mis-mapped: every RIGHT
    # double quote (U+201D, second UTF-8 byte 0x9D) is absent
    assert "”" not in {ch for _, ch in MOJIBAKE_PAIRS}
    assert "“" in {ch for _, ch in MOJIBAKE_PAIRS}

    clean = "café “quote“ — déjà"
    damaged = clean.encode("utf-8").decode("windows-1252")
    assert damaged != clean
    df = spark.createDataFrame(
        [(0, damaged), (1, "plain ascii"), (2, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in fix_mojibake(df).collect()}
    assert out[0].repaired == clean and out[0].mojibake_found
    assert out[1].repaired == "plain ascii"
    assert not out[1].mojibake_found
    assert out[2].repaired is None and out[2].mojibake_found is False


def test_script_detect_dominance_and_ties(spark):
    """Counts per range; dominance = strictly-greatest with ties to
    the earliest SCRIPT_RANGES entry; all-zero -> 'unknown'."""
    from cuphic_spark.operators.webclean import script_detect

    cjk, cyr, greek = chr(0x4E2D), chr(0x0414), chr(0x03B1)
    rows = [
        (0, "plain latin text"),
        (1, cjk * 5 + " ok"),          # cjk 5 > latin 2
        (2, cyr * 3 + " " + greek * 3),  # tie -> cyrillic (earlier)
        (3, "123 456"),                # no script chars -> unknown
        (4, "ab " + cjk * 2),          # tie latin 2 == cjk 2 -> latin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in script_detect(df).collect()}
    assert out[0].script == "latin"
    assert out[1].script == "cjk" and out[1].n_cjk == 5
    assert out[2].script == "cyrillic"
    assert out[2].n_cyrillic == 3 and out[2].n_greek == 3
    assert out[3].script == "unknown"
    assert out[4].script == "latin"


def test_ngram_diversity_permille(spark):
    from cuphic_spark.operators.webclean import ngram_diversity

    rows = [
        (0, "a b c d"),        # 3 bigrams, all distinct -> 1000
        (1, "x y x y x y"),    # 5 bigrams, 2 distinct -> 400
        (2, "solo"),           # no bigrams -> 0 permille
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_diversity(df).collect()}
    assert out[0].n_bigrams == 3 and out[0].diversity_permille == 1000
    assert out[1].n_bigrams == 5 and out[1].n_distinct_bigrams == 2
    assert out[1].diversity_permille == 400
    assert out[2].n_bigrams == 0 and out[2].diversity_permille == 0


def test_doc_filter_flags(spark):
    from cuphic_spark.operators.webclean import doc_filter_flags

    rows = [
        (0, "good words only here and many more of them", "src0"),
        (1, "casino viagra casino spam", "src0"),   # 750 permille
        (2, "clean text", "srcX"),                  # blocked source
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in doc_filter_flags(df).collect()}
    assert out[0].keep and out[0].badword_count == 0
    assert out[1].badword_count == 3
    assert out[1].badword_permille == 750 and not out[1].keep
    assert out[2].blocked_source and not out[2].keep


def test_lm_fluency_bigram_ppm(spark):
    """Hand-computed corpus: 'a b' appears in two docs (c2=2), 'a c'
    in one (c2=1), both with prefix 'a' (c1=3) -> per-bigram ppm
    666666 vs 333333; a one-word doc scores (0, 0); the DuckDB twin
    matches exactly."""
    import duckdb as _duck

    from cuphic_spark.operators.textstats import (
        lm_fluency, lm_fluency_oracle_sql)

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.fluency_sum, r.n_bigrams)
           for r in lm_fluency(docs).collect()}
    assert got == {1: (666666, 1), 2: (666666, 1),
                   3: (333333, 1), 4: (0, 0)}

    con = _duck.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ora = {r[0]: (r[1], r[2])
           for r in con.execute(lm_fluency_oracle_sql()).fetchall()}
    assert ora == got


def test_span_dedup_flags_hand_pinned(spark):
    """deduplicate-text-datasets-style k-word window dedup signal:
    cross-doc duplicate window counted once per occurrence, in-doc
    repeats count too, short docs score (0, 0, 0); DuckDB twin is
    value-exact."""
    import duckdb as _duck

    from cuphic_spark.operators.dedup import (
        span_dedup_flags, span_dedup_oracle_sql)

    rows = [
        (1, "a b c d e f g h i"),    # 2 windows, 1 dup (with doc 2)
        (2, "a b c d e f g h x"),    # 2 windows, 1 dup
        (3, "short text"),           # < k words -> 0/0/0
        (4, "z z z z z z z z z"),    # both windows identical -> 2/2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ppm)
           for r in span_dedup_flags(docs, k=8).collect()}
    assert got == {1: (2, 1, 500000), 2: (2, 1, 500000),
                   3: (0, 0, 0), 4: (2, 2, 1000000)}

    con = _duck.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ora = {r[0]: (r[1], r[2], r[3])
           for r in con.execute(span_dedup_oracle_sql(k=8)).fetchall()}
    assert ora == got


def test_wet_conversion_records_roundtrip_and_determinism():
    """WET derived format: write_wet -> read (via iter_warc_records)
    preserves text exactly (incl. non-ASCII), only conversion
    records surface, and identical inputs produce IDENTICAL bytes
    on repeat calls (mtime=0 gzip members — task-retry contract).
    Mixed WARC+WET streams filter correctly in both readers."""
    from cuphic_spark.sources.warc import (
        iter_warc_records, write_warc, write_wet)

    recs = [("https://h.example/doc/1", "2026-08-01T00:00:00Z",
             "hello wörld\nline two"),
            ("https://h.example/doc/2", "2026-08-02T00:00:00Z",
             "text £ with unicode")]
    a = write_wet(recs)
    b = write_wet(recs)
    assert a == b  # byte determinism
    got = [(h["warc-target-uri"], h["warc-date"],
            block.decode("utf-8"))
           for h, block in iter_warc_records(a)
           if h.get("warc-type") == "conversion"]
    assert got == list(recs)
    # record ids are deterministic AND distinct per (url, date)
    ids = [h["warc-record-id"] for h, _ in iter_warc_records(a)]
    assert len(set(ids)) == 2 and all(
        i.startswith("<urn:uuid:") for i in ids)

    # a response record mixed into the stream is NOT a conversion row
    mixed = write_warc(
        [("https://h.example/doc/3", "2026-08-03T00:00:00Z",
          b"<doc><p>x</p></doc>")]) + a
    kinds = [h.get("warc-type") for h, _ in iter_warc_records(mixed)]
    assert kinds == ["response", "conversion", "conversion"]


def test_wat_metadata_records_roundtrip_and_determinism():
    """WAT derived format: canonical-JSON metadata records roundtrip
    (title, ordered links), byte-identical on repeat calls, and
    response/conversion records are invisible to the metadata read."""
    from cuphic_spark.sources.warc import iter_warc_records, write_wat

    recs = [("https://h.example/doc/1", "2026-08-01T00:00:00Z",
             {"url": "https://h.example/doc/1", "title": "Tö",
              "links": [{"href": "https://a"}, {"href": "https://b"}]}),
            ("https://h.example/doc/2", "2026-08-02T00:00:00Z",
             {"url": "https://h.example/doc/2", "title": "",
              "links": []})]
    a = write_wat(recs)
    assert a == write_wat(recs)  # byte determinism
    import json as _json
    got = [(h["warc-target-uri"], _json.loads(b.decode()))
           for h, b in iter_warc_records(a)
           if h.get("warc-type") == "metadata"]
    assert [u for u, _ in got] == [r[0] for r in recs]
    assert got[0][1]["links"] == [{"href": "https://a"},
                                  {"href": "https://b"}]
    assert got[0][1]["title"] == "Tö"
    assert got[1][1]["links"] == []


def test_deterministic_sampling_and_sharding(spark):
    """Training-mix operators: membership is a pure function of
    (key, seed) — identical across repartitionings; fractions on the
    SAME stream nest (sample(0.25) is a subset of sample(0.5));
    strata absent from the map are dropped; shard stream is
    independent of the membership stream; DuckDB twin exact."""
    import duckdb as _duck

    from cuphic_spark.operators.sampling import (
        assign_shards, hash_sample, sample_oracle_sql,
        stratified_sample)

    docs = spark.range(2000).toDF("doc_id")
    a = {r.doc_id for r in hash_sample(docs, 0.5, "s").collect()}
    b = {r.doc_id
         for r in hash_sample(docs.repartition(13), 0.5, "s")
         .collect()}
    assert a == b                       # partitioning-invariant
    q = {r.doc_id for r in hash_sample(docs, 0.25, "s").collect()}
    assert q <= a                       # nested thresholds
    assert 0.2 < len(q) / 2000 < 0.3    # calibrated
    other = {r.doc_id for r in hash_sample(docs, 0.5, "t").collect()}
    assert other != a                   # seed changes the stream

    strat = docs.withColumn("stratum", F.col("doc_id") % 3)
    kept = stratified_sample(strat, F.col("stratum"),
                             {0: 1.0, 2: 0.0}, seed="s")
    got = {r.doc_id for r in kept.collect()}
    assert all(d % 3 == 0 for d in got)      # 1 absent -> dropped
    assert len(got) == len([d for d in range(2000) if d % 3 == 0])

    sh = assign_shards(docs, n_shards=8, seed="s")
    counts = {r.shard: r.c for r in
              sh.groupBy("shard").agg(F.count("*").alias("c"))
              .collect()}
    assert set(counts) == set(range(8))
    assert max(counts.values()) < 2 * min(counts.values())

    # twin equality on the gate's exact shape
    rows = [(i,) for i in range(500)]
    sdocs = spark.createDataFrame(rows, "doc_id long") \
        .withColumn("stratum", F.col("doc_id") % 3)
    samp = (assign_shards(
        stratified_sample(sdocs, F.col("stratum"),
                          {0: 0.5, 1: 0.25, 2: 1.0}, seed="r7"),
        n_shards=8, seed="r7")
        .select("doc_id", F.col("stratum").cast("long")
                .alias("stratum"), "shard"))
    gotd = {r.doc_id: (r.stratum, r.shard) for r in samp.collect()}
    con = _duck.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?)", rows)
    ora = {r[0]: (r[1], r[2]) for r in con.execute(
        sample_oracle_sql({0: 0.5, 1: 0.25, 2: 1.0}, 8,
                          "doc_id % 3", seed="r7")).fetchall()}
    assert gotd == ora


def test_contamination_flags_planted_leak(spark):
    """Decontamination: a corpus doc embedding an exact 8-word
    benchmark span is flagged with the right window count; clean and
    short docs are not; DuckDB twin exact."""
    import duckdb as _duck

    from cuphic_spark.operators.dedup import (
        contamination_flags, contamination_oracle_sql)

    bench_text = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, bench_text),                               # benchmark
        (10, "intro words " + bench_text + " outro"),  # leaked
        (11, "totally clean text with enough words to windowize ok"),
        (12, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.where(F.col("doc_id") < 10)
    corpus = docs.where(~(F.col("doc_id") < 10))
    got = {r.doc_id: (r.n_windows, r.n_contaminated, r.contaminated)
           for r in contamination_flags(corpus, bench, k=8).collect()}
    # doc 10 has 12 words -> 5 windows; the bench text contributes
    # 9 words -> 2 of its windows are exact bench windows
    assert got[10] == (5, 2, True)
    assert got[11][2] is False and got[11][1] == 0
    assert got[12] == (0, 0, False)

    con = _duck.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ora = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        contamination_oracle_sql(k=8, bench_pred="doc_id < 10"))
        .fetchall()}
    assert ora == got


def test_ingest_dedup_flags_planted(spark):
    """Snapshot-vs-delta dedup: an exact copy flags exact+near, a
    one-word tweak of a LONG doc flags near only, fresh text keeps.
    Within-batch duplicates of the incoming set do NOT flag (the
    check is against existing only)."""
    from cuphic_spark.operators.dedup import ingest_dedup_flags

    long_text = " ".join(f"w{i % 37}tok{i % 11}" for i in range(120))
    existing = spark.createDataFrame(
        [(1, long_text), (2, "some other corpus document here")],
        "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(10, long_text),                  # exact (and near, d=0)
         (11, long_text + " x"),           # near only
         (12, "completely different fresh content entirely"),
         (13, "completely different fresh content entirely")],
        "doc_id long, text string")        # 12/13: batch-internal dup
    got = {r.doc_id: (r.exact_dup, r.near_dup, r.keep)
           for r in ingest_dedup_flags(existing, incoming).collect()}
    assert got[10] == (True, True, False)
    assert got[11] == (False, True, False)
    assert got[12] == (False, False, True)
    assert got[13] == (False, False, True)  # existing-only semantics


def test_nfc_normalization(spark):
    """NFC composition: combining sequences compose (e+0301 -> é,
    A+030A -> Å), already-NFC text is untouched and unflagged, null
    passes through; equality-keyed dedup MISSES the duplicate until
    normalization and catches it after — the operator's raison
    d'être."""
    from cuphic_spark.operators.dedup import exact_dedup_groups
    from cuphic_spark.operators.webclean import normalize_nfc

    decomp = "cafe" + chr(0x301)
    comp = "caf" + chr(0xE9)
    docs = spark.createDataFrame(
        [(1, decomp), (2, comp), (3, "plain"), (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.normalized, r.was_denormalized)
           for r in normalize_nfc(docs).collect()}
    assert got[1] == (comp, True)
    assert got[2] == (comp, False)
    assert got[3] == ("plain", False)
    assert got[4] == (None, False)

    # before: byte-unequal -> no dup group; after: one group of 2
    # (exact_dedup_groups already filters to n_copies > 1)
    before = exact_dedup_groups(docs.where("text is not null"))
    after = exact_dedup_groups(
        normalize_nfc(docs.where("text is not null"))
        .select("doc_id", F.col("normalized").alias("text")))
    assert before.count() == 0
    assert after.count() == 1


def test_minhash_signature_matches_column_expr_twin(spark, docs):
    """Round-8 optimization pin: minhash_signature moved from pure
    column expressions (explode -> md5 -> groupBy min; interpreted
    higher-order shingle build + SortAggregate dominated the bench
    section) to an Arrow-batched native map. The old shape lives on
    here as the differential twin — byte-identical rows required,
    both for the 1-seed hot path and the multi-seed generic path."""
    from cuphic_spark.operators.dedup import _shingles, minhash_signature

    corpus = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(90001, None), (90002, "one two"), (90003, ""),
             (90004, "a  b c"), (90005, "x y z")],
            "doc_id long, text string"))

    def column_expr_twin(d, k, n_hashes):
        sh = _shingles(F.col("text"), k)
        exploded = (d.where(F.size(F.split(F.col("text"), " ")) >= k)
                    .select("doc_id", F.explode(sh).alias("s")))
        n_seeds = -(-n_hashes // 4)
        digested = exploded.select(
            "doc_id", *[F.md5(F.concat(F.lit(f"{j}:"), F.col("s")))
                        .alias(f"d{j}") for j in range(n_seeds)])
        aggs = [F.min(F.substring(F.col(f"d{i // 4}"),
                                  (i % 4) * 8 + 1, 8))
                .alias(f"minhash_{i}") for i in range(n_hashes)]
        return digested.groupBy("doc_id").agg(*aggs)

    for n_hashes in (4, 8):
        twin = column_expr_twin(corpus, 3, n_hashes)
        got = minhash_signature(corpus, k=3, n_hashes=n_hashes)
        assert got.schema == twin.schema
        assert twin.exceptAll(got).count() == 0
        assert got.exceptAll(twin).count() == 0
