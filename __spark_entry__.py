"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction run at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 and
the training-data operator families), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query over the
pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings).

The `pages` corpus every extraction query runs on is synthesized
deterministically from `documents` with pure Spark SQL expressions
(cuphic_spark/sources/pagegen.py, copies=4); the oracles recompute
the same closed forms directly in SQL — they never parse HTML, so an
agreement is a genuine two-implementation check of the parse+match
engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuphic_spark.compiler import compile_pattern, match_nodes
from cuphic_spark.operators.dedup import exact_dedup_groups, minhash_signature
from cuphic_spark.operators.parse import pages_extract_text, pages_to_nodes
from cuphic_spark.operators.similarity import inner_product_topk_quantized
from cuphic_spark.operators.textstats import (
    lang_id,
    lang_id_oracle_sql,
    quality_score,
    token_count,
)
from cuphic_spark.sources.pagegen import (
    DEFAULT_COPIES,
    oracle_pages_cte,
    synth_pages,
)

_PAGES_CTE = oracle_pages_cte(DEFAULT_COPIES)

GOLDEN_PATTERNS = {
    "links": "[:a {:href href} ???]",
    "term": "[:term {:type term/type} term/name]",
    "p_id": "[:p {:id ?id} ???]",
    "title": "[:title {:id title/id} title/text]",
    "li": '[:li {} "•" body]',  # literal child prefix (round 3)
}


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_pages(spark, sf_dir, DEFAULT_COPIES)


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_to_nodes(_pages(spark, sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001 — synthesize
    pages, parse to nodes, run the compiled golden patterns through
    the Catalyst head-filter path, aggregate match counts."""
    nodes = _nodes(spark, "/root/testdata/sf0.001")
    compiled = [compile_pattern(k, v) for k, v in GOLDEN_PATTERNS.items()]
    matches = match_nodes(nodes, compiled)
    return (matches.groupBy("pattern_key")
            .agg(F.count("*").alias("n_matches"),
                 F.countDistinct("url").alias("n_urls"))
            .orderBy("pattern_key"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_extract_text(spark, sf_dir):
    return (pages_extract_text(_pages(spark, sf_dir))
            .select("url", F.col("text").alias("extracted")))


def q_extract_text_parity(spark, sf_dir):
    """Engine extraction vs the generator's expected text column —
    byte identity, aggregated. The oracle computes the same count
    without parsing anything."""
    pages = _pages(spark, sf_dir)
    ext = pages_extract_text(pages).withColumnRenamed("text", "extracted")
    j = ext.join(pages.select("url", "text"), "url")
    return j.select(
        F.count("*").alias("n_pages"),
        F.sum((F.col("extracted") == F.col("text")).cast("long"))
        .alias("n_identical"))


def q_match_link_count(spark, sf_dir):
    cp = [compile_pattern("links", GOLDEN_PATTERNS["links"])]
    m = match_nodes(_nodes(spark, sf_dir), cp)
    return (m.groupBy("url").agg(F.count("*").alias("n_links_found")))


def q_match_term(spark, sf_dir):
    cp = [compile_pattern("term", GOLDEN_PATTERNS["term"])]
    m = match_nodes(_nodes(spark, sf_dir), cp)
    return m.select(
        "url",
        F.element_at("bindings", "term/type").alias("term_type"),
        F.element_at("bindings", "term/name").alias("term_name"))


def q_match_p_optional_id(spark, sf_dir):
    cp = [compile_pattern("p_id", GOLDEN_PATTERNS["p_id"])]
    m = match_nodes(_nodes(spark, sf_dir), cp)
    return m.select("url", F.element_at("bindings", "?id").alias("p_id"))


def q_match_li_bullet(spark, sf_dir):
    """Literal child-prefix gate (round-3): [:li {} "\u2022" body]
    compiles to children[i] predicates on the relational path —
    bullet+bold pages bind the bold SUBTREE (exercising the assist
    behind a literal prefix), bare-bullet pages take the nil-bind
    quirk. The oracle rebuilds the EDN subtree closed-form."""
    cp = compile_pattern("li", '[:li {} "\u2022" body]')
    assert cp.strategy == "relational", cp.reason
    m = match_nodes(_nodes(spark, sf_dir), [cp])
    return m.select("url", F.element_at("bindings", "body").alias("body"))


def q_link_host_counts(spark, sf_dir):
    cp = [compile_pattern("links", GOLDEN_PATTERNS["links"])]
    m = match_nodes(_nodes(spark, sf_dir), cp)
    host = F.parse_url(F.element_at("bindings", "href"), F.lit("HOST"))
    return (m.select(host.alias("host"))
            .groupBy("host").agg(F.count("*").alias("n")))


def q_tag_histogram(spark, sf_dir):
    return (_nodes(spark, sf_dir)
            .groupBy("tag").agg(F.count("*").alias("n")))


def q_politeness_topk(spark, sf_dir):
    from pyspark.sql import Window
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "rk"))


def q_seen_anti_join(spark, sf_dir):
    """Anti-join shape of the crawl's seen-set check. The right side
    is FILTERED (high-value orders) so the result is non-empty at
    every test SF — round 1's every-customer-has-orders variant
    returned 0 rows, making the hash check vacuous."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = orders.where(F.col("o_totalprice") > 300000)
    return (customer.join(big,
                          customer.c_custkey == big.o_custkey,
                          "left_anti")
            .select("c_custkey"))


def q_rewrite_drop_links(spark, sf_dir):
    """Template rewrite under the oracle gate (SURVEY §2.C): rewrite
    every anchor ``[:a {:href href} ???]`` to ``[:link {:to href}]``
    (no children), then extract text from the REWRITTEN tree — the
    result must equal the page's closed-form text minus exactly the
    anchor texts. Exercises pattern match -> bindings -> template
    apply -> tree rebuild -> serialization end-to-end, value-checked
    without the oracle parsing anything."""
    from cuphic_spark.operators.rewrite import rewrite_pages

    out = rewrite_pages(
        _pages(spark, sf_dir),
        [[("[:a {:href href} ???]", "[:link {:to href}]")]])
    return out.select("url", F.col("text").alias("extracted"))


def q_lenient_extract(spark, sf_dir):
    """Lenient-ladder gate: tag-soup pages built from documents (junk
    before the first tag + a bare ampersand in a text node) must
    extract text equal to the closed form — the fixup path of
    parse_html_lenient exercised end-to-end and value-checked.
    documents.text is plain words (no XML specials) by construction;
    both engines would fail together if that changed."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id") < 200))
    pages = docs.select(
        F.concat(F.lit("soup://"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("junk! <doc><p>"), F.col("text"),
                          F.lit(" & tail</p></doc>")),
                 "UTF-8").alias("html"))
    return (pages_extract_text(pages)
            .select("url", F.col("text").alias("extracted")))


def q_charset_extract(spark, sf_dir):
    """Charset-sniff gate: non-UTF-8 page bytes built closed-form
    (binary concat of UTF-8 fragments + raw high bytes via unhex)
    must extract to the RIGHT unicode text through the recode rung —
    even docs carry a windows-1252 label with byte 0xE9 (é), odd docs
    carry an iso-8859-1 label with byte 0x92, which the WHATWG alias
    must decode as cp1252's curly quote (chr(8217)), NOT 8859-1's C1
    control. The oracle states the expected text directly with
    chr()."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    even = (F.col("doc_id") % 2) == 0
    head = F.when(
        even,
        F.lit('<doc><meta charset="windows-1252"/><p>caf'))\
        .otherwise(F.lit('<doc><meta charset="iso-8859-1"/><p>it'))
    raw_byte = F.when(even, F.unhex(F.lit("E9")))\
        .otherwise(F.unhex(F.lit("92")))
    tail = F.when(even, F.lit(" ")).otherwise(F.lit("s "))
    pages = docs.select(
        F.concat(F.lit("cp1252://"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.encode(head, "UTF-8"), raw_byte,
                 F.encode(F.concat(tail, F.col("text"),
                                   F.lit("</p></doc>")), "UTF-8"))
        .alias("html"))
    return (pages_extract_text(pages)
            .select("url", F.col("text").alias("extracted")))


def q_repetition_stats(spark, sf_dir):
    """Gopher/C4 repetition signals gate: top-word and top-bigram
    permille fractions per document (explode → count → window max,
    all integer-permille with explicit floor so Spark truncation and
    the DuckDB twin agree)."""
    from cuphic_spark.operators.textstats import repetition_stats

    return repetition_stats(
        _docs(spark, sf_dir).where(F.col("doc_id") < 400))


def q_top_terms_tfidf(spark, sf_dir):
    """Corpus TF-IDF gate: per-doc top-3 terms by tf*ln(N/df) in
    integer permille, ties broken lexicographically — the classic
    explode → df aggregate → idf join → window top-k relational
    shape, re-derived wholesale by the DuckDB twin."""
    from cuphic_spark.operators.textstats import top_terms_tfidf

    return top_terms_tfidf(
        _docs(spark, sf_dir).where(F.col("doc_id") < 400), k=3)


def q_warc_extract(spark, sf_dir):
    """WARC source gate: documents are packed into 10 per-record-gzip
    WARC files (full HTTP response envelopes) EXECUTOR-side by the
    paired writer — even-numbered files carry CHUNKED
    transfer-encoding bodies (what wild Common-Crawl-era captures
    contain), odd ones identity bodies — read back through read_warc:
    gzip member walk, record framing, response filtering, HTTP
    envelope strip + de-chunking, and the recovered pages flow
    through byte-identity text extraction. The oracle re-derives
    every (url, warc_ts, text) closed-form without touching WARC at
    all, so the whole container roundtrip is value-pinned."""
    from cuphic_spark.operators.parse import pages_extract_text
    from cuphic_spark.sources.warc import read_warc, write_warc

    docs = (_docs(spark, sf_dir).where(F.col("doc_id") < 400)
            .select("doc_id", "text",
                    (F.col("doc_id") % 10).alias("g")))

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        g = int(pdf["g"].iloc[0])
        recs = [(f"https://warc{int(d) % 10}.example/doc/{int(d)}",
                 f"2026-08-{1 + int(d) % 28:02d}T00:00:00Z",
                 f"<doc><p>warc {t}</p></doc>".encode())
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        chunk = 11 if g % 2 == 0 else None
        return pd.DataFrame({"content": [write_warc(recs,
                                                    chunk=chunk)]})

    files = docs.groupBy("g").applyInPandas(pack, "content binary")
    pages = read_warc(files)
    extracted = pages_extract_text(pages.select("url", "html"))
    return (pages.select("url", "warc_ts")
            .join(extracted, "url")
            .select("url", "warc_ts",
                    F.col("text").alias("extracted")))


def q_pii_scrub(spark, sf_dir):
    """PII redaction gate: emails/IPv4s/phones injected closed-form
    into document text, scrubbed by the chained-regexp_replace
    operator; the oracle runs the VERY SAME patterns (textstats.
    PII_PATTERNS — constructs with identical Java-regex/RE2
    semantics) through DuckDB's regexp_replace."""
    from cuphic_spark.operators.textstats import scrub_pii

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), did, F.lit("@example.com via 10.1."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".9 or +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" bye"))
    return (scrub_pii(docs.select("doc_id", injected.alias("text")))
            .select("doc_id", "scrubbed", "pii_found"))


def q_chunk_text(spark, sf_dir):
    """Context-window chunking gate: 10-word windows at stride 7
    (overlapping — the retrieval-corpus shape) as pure column
    expressions; the DuckDB twin re-derives every chunk with
    list_slice over the same split."""
    from cuphic_spark.operators.textstats import chunk_text

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    return chunk_text(docs, max_words=10, stride=7)


def q_line_dedup(spark, sf_dir):
    """Corpus-wide exact line dedup (C4/RefinedWeb rule): documents
    rebuilt into 4-line shapes where line 2 is a shared navbar
    string (7 distinct values across the corpus — boilerplate by
    construction) and line 4 is a short always-kept stub below
    min_chars; the winner election keeps each navbar line only in
    its first (doc_id, pos) occurrence. Oracle re-derives the whole
    pipeline (explode → md5 winner → reassembly) in SQL."""
    from cuphic_spark.operators.dedup import line_dedup

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    words = F.split("text", " ")
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.slice(words, 1, 8)),
            F.concat(F.lit("shared navbar line "),
                     (F.col("doc_id") % 7).cast("string")),
            F.concat_ws(" ", F.slice(words, 9, 8)),
            F.lit("ok")).alias("text"))
    return line_dedup(corpus, min_chars=4)


def q_fix_mojibake(spark, sf_dir):
    """cp1252 mojibake repair: even docs get 'caf<Ã©>' + curly-quote
    mojibake planted (the sequences GENERATED from the codec pair at
    import, not hand-typed); the repair is a chained literal replace
    whose DuckDB twin is generated from the same MOJIBAKE_PAIRS
    table (single-sourced — webclean.mojibake_oracle_sql)."""
    from cuphic_spark.operators.webclean import fix_mojibake

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    moji_cafe = "é".encode("utf-8").decode("windows-1252")
    moji_apos = "’".encode("utf-8").decode("windows-1252")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("caf" + moji_cafe + " it" + moji_apos
                              + "s "), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    return fix_mojibake(planted)


def _mojibake_oracle() -> str:
    from cuphic_spark.operators.webclean import mojibake_oracle_sql

    def lit(s: str) -> str:
        return "||".join(f"chr({ord(c)})" for c in s)

    moji_cafe = "é".encode("utf-8").decode("windows-1252")
    moji_apos = "’".encode("utf-8").decode("windows-1252")
    inner = f"""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
             THEN 'caf'||{lit(moji_cafe)}||' it'||{lit(moji_apos)}||'s '||text
             ELSE text END AS text
        FROM documents WHERE doc_id < 400"""
    return mojibake_oracle_sql(inner)


def q_doc_filter(spark, sf_dir):
    """C4-style document gate: badword-ratio + source blocklist as
    pure column exprs (one array filter over the split, predicate
    stays scan-side). Every 5th doc gets badwords appended, every
    11th a blocked source."""
    from cuphic_spark.operators.webclean import doc_filter_flags

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" casino viagra")))
        .otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("srcX"))
        .otherwise(F.col("source")).alias("source"))
    return doc_filter_flags(planted)


def _doc_filter_oracle() -> str:
    from cuphic_spark.operators.webclean import BADWORDS

    bad = "[" + ",".join(f"'{b}'" for b in BADWORDS) + "]"
    cnt = (f"len(list_filter(string_split(text,' '), "
           f"x -> list_contains({bad}, x)))")
    return f"""
        WITH src AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN text || ' casino viagra'
                      ELSE text END AS text,
                 CASE WHEN doc_id % 11 = 0 THEN 'srcX' ELSE source
                      END AS source
          FROM documents WHERE doc_id < 400)
        SELECT doc_id, source = 'srcX' AS blocked_source,
               CAST({cnt} AS INTEGER) AS badword_count,
               CAST(floor({cnt} * 1000.0 / len(string_split(text,' ')))
                    AS INTEGER) AS badword_permille,
               (NOT source = 'srcX')
               AND CAST(floor({cnt} * 1000.0
                              / len(string_split(text,' ')))
                        AS INTEGER) <= 20 AS keep
        FROM src
    """


def q_script_detect(spark, sf_dir):
    """Unicode script detection gate: per-mod-4 corpora plant CJK /
    Cyrillic+Greek-tie / Arabic shapes (characters by codepoint on
    both sides); counts are integers and the dominance tie-break is
    the SCRIPT_RANGES order, single-sourced into the DuckDB twin."""
    from cuphic_spark.operators.webclean import script_detect

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    did = F.col("doc_id")
    cjk = F.repeat(F.lit(chr(0x4E2D)), (did % 7 + 5).cast("int"))
    cyr = F.repeat(F.lit(chr(0x0414)), 3)
    greek = F.repeat(F.lit(chr(0x03B1)), 3)
    arabic = F.repeat(F.lit(chr(0x0634)), 4)
    planted = docs.select(
        "doc_id",
        F.when(did % 4 == 1, F.concat(cjk, F.lit(" ok")))
        .when(did % 4 == 2, F.concat(cyr, F.lit(" "), greek))
        .when(did % 4 == 3, F.concat(arabic, F.lit(" 123 456")))
        .otherwise(F.col("text")).alias("text"))
    return script_detect(planted)


def _script_detect_oracle() -> str:
    from cuphic_spark.operators.webclean import script_detect_oracle_sql

    inner = """SELECT doc_id,
        CASE WHEN doc_id % 4 = 1
             THEN repeat(chr(20013), CAST(doc_id % 7 + 5 AS INTEGER))
                  || ' ok'
             WHEN doc_id % 4 = 2
             THEN repeat(chr(1044), 3) || ' ' || repeat(chr(945), 3)
             WHEN doc_id % 4 = 3
             THEN repeat(chr(1588), 4) || ' 123 456'
             ELSE text END AS text
        FROM documents WHERE doc_id < 400"""
    return script_detect_oracle_sql(inner)


def q_ngram_diversity(spark, sf_dir):
    """Bigram-diversity quality signal: every third doc gets a
    repetitive tail planted so the permille discriminates; pure
    array exprs (zip_with of shifted slices), no explode."""
    from cuphic_spark.operators.webclean import ngram_diversity

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"),
                        F.lit(" spam spam spam spam spam")))
        .otherwise(F.col("text")).alias("text"))
    return ngram_diversity(planted)


_NGRAM_DIVERSITY_ORACLE = """
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' spam spam spam spam spam'
                  ELSE text END AS text
      FROM documents WHERE doc_id < 400),
    b AS (SELECT doc_id, string_split(text, ' ') AS w FROM src),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i + 1]) AS bg
          FROM b)
    SELECT doc_id,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bg)) AS INTEGER)
             AS n_distinct_bigrams,
           CASE WHEN len(bg) > 0
                THEN CAST(floor(len(list_distinct(bg)) * 1000.0
                                / len(bg)) AS INTEGER)
                ELSE 0 END AS diversity_permille
    FROM g
"""


def q_boilerplate_strip(spark, sf_dir):
    """Main-content extraction gate: pages wrapped in realistic
    chrome (header with a nested <nav> menu, mid-body aside with
    markup, a <script>, a footer) must extract EXACTLY the article
    text — the boilerplate subtrees vanish whole, including kept
    tags nested inside dropped ones. The oracle is the clean text
    itself."""
    from cuphic_spark.operators.parse import pages_extract_content

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 250)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<doc><header>Site <nav><a href="/">home</a> | '
              '<a href="/about">about</a></nav></header><p>'),
        F.col("text"),
        F.lit('</p><aside>ad unit <b>BUY NOW</b> #'), did,
        F.lit('</aside><script>track('), did,
        F.lit(')</script><footer>(c) 2026 example.org</footer></doc>'))
    pages = docs.select(
        F.concat(F.lit("chrome://"), did).alias("url"),
        F.encode(html, "UTF-8").alias("html"))
    return (pages_extract_content(pages)
            .select("url", F.col("text").alias("content")))


def q_frontier_merge(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("id"))
    b = customer.where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("id"))
    return a.unionByName(b).distinct()


def q_events_agg(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (events.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents"),
                 F.countDistinct("user_id").alias("n_users")))


def q_top5_orders(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(5).select("o_orderkey", "o_custkey"))


def q_dedup_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.unionByName(docs.where(F.col("doc_id") % 2 == 0))
    return exact_dedup_groups(corpus)


def q_token_count(spark, sf_dir):
    return token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_minhash_signature(spark, sf_dir):
    return minhash_signature(_docs(spark, sf_dir), k=3, n_hashes=4)


def q_minhash_wide(spark, sf_dir):
    """The digest-slicing construction BEYOND one digest (round-4
    verdict item 3): 16 hashes = 4 md5 seeds x 4 slices — the oracle
    pins the (i div 4) seed / (i mod 4) slice layout that production
    presets (dedup.LSH_PRESETS, 128 hashes = 32 seeds) rely on."""
    return minhash_signature(_docs(spark, sf_dir), k=3, n_hashes=16)


def q_lsh_pairs_web08(spark, sf_dir):
    """LSH banding END-TO-END at the PRODUCTION preset (round-5
    verdict item 3): web_08 = 128 hashes (32 md5 seeds x 4 digest
    slices), 16 bands x 8 rows — the C4/RefinedWeb-style near-dup
    point whose recall/knee math LSH_PRESETS documents but which no
    oracle previously executed. Corpus = sf documents under 300 with
    PLANTED near-dups (every 7th doc re-appears at doc_id+100000
    with its last two words dropped — Jaccard ~0.9+ on these texts,
    so web_08's 0.95 recall@0.8 should catch essentially all of
    them), through minhash_lsh_pairs banding and the exact
    ngram-Jaccard verify stage. The DuckDB twin recomputes all 128
    slice-hashes, the 16 band values, the band equi-join, and the
    verify Jaccard closed-form. Bucket sizes here are bounded by the
    corpus (< max_bucket), so the hot-band star guard provably never
    fires and the oracle can mirror the pure band join."""
    from cuphic_spark.operators.dedup import (
        LSH_PRESETS,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    w = F.split(F.col("text"), " ")
    base = (_docs(spark, sf_dir).where(F.col("doc_id") < 300)
            .select("doc_id", "text")
            .where(F.size(w) >= 8))
    dup = (base.where(F.col("doc_id") % 7 == 0)
           .select((F.col("doc_id") + 100000).alias("doc_id"),
                   F.array_join(F.slice(w, 1, F.size(w) - 2), " ")
                   .alias("text")))
    corpus = base.unionByName(dup)
    pairs = minhash_lsh_pairs(corpus, k=3, **LSH_PRESETS["web_08"])
    return ngram_jaccard_pairs(corpus, pairs)


def _synth_robots_body(h: int) -> str:
    """Deterministic RFC 9309 robots.txt for host h — the closed form
    the DuckDB twin re-derives decision-side (the oracle never parses;
    it CASEs on (h, path), so the gate proves the whole parse ->
    group-select -> longest-match pipeline against the spec).

    Shape: an ``otherbot`` group to be ignored; hosts with h%3 != 0
    get a ``cuphicbot`` group (deny /private/, allow /private/pub*,
    h%4==0 adds the $-anchored wildcard deny, a crawl-delay EXCEPT
    when h%5==2); every host gets a ``*`` group (longest-match
    /doc/<h%7> deny inside an allow, an equal-length Allow/Disallow
    tie that Allow must win, and a Crawl-delay of 9). The h%5==2
    hosts pin RFC 9309 group selection for delays: the cuphicbot
    group decided, it has no Crawl-delay, so the verdict carries
    NULL — it must NOT borrow the ``*`` group's 9."""
    lines = [f"# synthetic robots for host{h}",
             "User-agent: otherbot", "Disallow: /", ""]
    if h % 3 != 0:
        lines += ["User-agent: CuphicBot/2.1",
                  "Disallow: /private/",
                  "Allow: /private/pub*"]
        if h % 4 == 0:
            lines.append("Disallow: /*.tmp$")
        if h % 5 != 2:
            lines.append(f"Crawl-delay: {1 + h % 5}")
        lines.append("")
    lines += ["User-agent: *", f"Disallow: /doc/{h % 7}",
              "Allow: /doc/", "Allow: /tie/a", "Disallow: /tie/a",
              "Crawl-delay: 9"]
    return "\n".join(lines) + "\n"


def q_robots_decisions(spark, sf_dir):
    """RFC 9309 robots end-to-end: deterministic robots.txt bodies
    per host parsed by frontier.robots.parse_robots (Arrow pass),
    decisions by robots_allowed (group selection: specific
    ``cuphicbot`` beats ``*``; longest-match; equal length -> Allow;
    ``$`` anchor; crawl-delay carried). 8 path shapes per doc hit
    every branch; the oracle is the closed-form decision table."""
    from cuphic_spark.frontier.robots import parse_robots, robots_allowed

    docs = _docs(spark, sf_dir)
    n_hosts = 24
    bodies = spark.createDataFrame(
        [(f"host{h}.example", _synth_robots_body(h))
         for h in range(n_hosts)],
        "host string, robots_txt string")
    h = F.col("doc_id") % n_hosts
    did = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 8
    path = (F.when(c == 0, F.concat(F.lit("/doc/"),
                                    (F.col("doc_id") % 10).cast("string")))
            .when(c == 1, F.concat(F.lit("/private/doc"), did))
            .when(c == 2, F.concat(F.lit("/private/pub"), did))
            .when(c == 3, F.concat(F.lit("/file"), did, F.lit(".tmp")))
            .when(c == 4, F.lit("/tie/a"))
            .when(c == 5, F.concat(F.lit("/doc/x"), did))
            .when(c == 6, F.lit("/private/pub"))
            .otherwise(F.concat(F.lit("/free/"), did)))
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"), h.cast("string"),
                 F.lit(".example"), path).alias("url"))
    out = robots_allowed(urls, parse_robots(bodies), "CuphicBot")
    return out.select("doc_id", "url", "allowed", "crawl_delay")


def q_sitemap_extract(spark, sf_dir):
    """Sitemap ingestion THROUGH the cuphic pattern engine: per-host
    sitemap XML built from the documents table (urlset entries with
    optional lastmod/priority; every h%5==0 host is a sitemapindex
    instead), then frontier.sitemap.parse_sitemaps pulls entries with
    the kernel patterns [:url ??? [:loc loc] ???] etc. — optional
    fields group by the scan's node_id. The oracle re-derives the
    entries closed-form (it never sees XML), so the gate pins parse
    -> pattern-match -> field grouping end-to-end."""
    from cuphic_spark.frontier.sitemap import parse_sitemaps

    docs = _docs(spark, sf_dir)
    n_hosts = 12
    h = F.col("doc_id") % n_hosts
    did = F.col("doc_id").cast("string")
    host = F.concat(F.lit("host"), h.cast("string"), F.lit(".example"))
    is_index = (h % 5) == 0
    url_loc = F.concat(F.lit("https://"), host, F.lit("/doc/"), did)
    sm_loc = F.concat(F.lit("https://"), host, F.lit("/sitemaps/"),
                      did, F.lit(".xml"))
    lastmod_frag = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.lit("\n    <lastmod>2026-01-"),
                 (F.lit(10) + F.col("doc_id") % 19).cast("string"),
                 F.lit("</lastmod>"))).otherwise(F.lit(""))
    priority_frag = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("\n    <priority>0."),
                 (F.col("doc_id") % 10).cast("string"),
                 F.lit("</priority>"))).otherwise(F.lit(""))
    entry_xml = F.when(
        is_index,
        F.concat(F.lit("  <sitemap><loc>"), sm_loc,
                 F.lit("</loc></sitemap>"))
    ).otherwise(
        F.concat(F.lit("  <url>\n    <loc>"), url_loc, F.lit("</loc>"),
                 lastmod_frag, priority_frag, F.lit("\n  </url>")))
    per_host = (docs
                .select(host.alias("host"), is_index.alias("is_index"),
                        entry_xml.alias("e"))
                .groupBy("host", "is_index")
                .agg(F.concat_ws("\n", F.collect_list("e")).alias("body")))
    xml = per_host.select(
        "host",
        F.concat(F.when(F.col("is_index"), F.lit("<sitemapindex>\n"))
                 .otherwise(F.lit("<urlset>\n")),
                 F.col("body"),
                 F.when(F.col("is_index"), F.lit("\n</sitemapindex>\n"))
                 .otherwise(F.lit("\n</urlset>\n"))).alias("sitemap_xml"))
    return parse_sitemaps(xml)


def q_term_join_nodes(spark, sf_dir):
    """matches ⋈ nodes equi-join on (url, node_id): term matches
    joined back to their node rows for structural columns. The node
    preorder id has a closed form in the synthetic corpus
    (doc=0, title=1, p=2, links 3..3+L-1, term=3+L)."""
    nodes = _nodes(spark, sf_dir).cache()
    cp = [compile_pattern("term", GOLDEN_PATTERNS["term"])]
    m = match_nodes(nodes, cp)
    j = m.join(nodes.select("url", "node_id", "depth", "child_pos"),
               ["url", "node_id"])
    return j.select(
        "url",
        F.element_at("bindings", "term/name").alias("term_name"),
        F.col("node_id").alias("term_node_id"),
        "depth")


def q_first_link_per_url(spark, sf_dir):
    """select-one relationally: first link match per url in document
    order = min node_id (preorder). The first link is k=0, so its
    href has a closed form."""
    from cuphic_spark.operators.rewrite import select_one_df
    cp = [compile_pattern("links", GOLDEN_PATTERNS["links"])]
    m = match_nodes(_nodes(spark, sf_dir), cp)
    first = select_one_df(m, "links")
    return first.select(
        "url", F.col("node_id").alias("first_link_node_id"),
        F.element_at("bindings", "href").alias("first_href"))


def q_url_canonicalize(spark, sf_dir):
    """The urlnorm operator gated directly: messy synthetic urls
    (shouting scheme/host, default port, fragment) canonicalized by
    the column-expression path; the oracle lowercases/strips with
    plain SQL."""
    from cuphic_spark.frontier.urlnorm import canonicalize_cols
    docs = _docs(spark, sf_dir)
    raw = F.concat(F.lit("HTTPS://HOST"), (F.col("doc_id") % 10).cast("string"),
                   F.lit(".EXAMPLE:443/doc/"), F.col("doc_id").cast("string"),
                   F.lit("#frag"))
    base = F.lit("https://base.example/")
    return docs.select(
        "doc_id",
        canonicalize_cols(raw, base).alias("canonical_url"))


def q_fingerprint(spark, sf_dir):
    from cuphic_spark.operators.textstats import fingerprint
    return fingerprint(_docs(spark, sf_dir))


def q_ngram_jaccard_adjacent(spark, sf_dir):
    """Exact 3-gram Jaccard for consecutive doc pairs (the verify
    stage of the near-dup pipeline, self-contained candidates)."""
    from cuphic_spark.operators.dedup import ngram_jaccard_pairs
    docs = _docs(spark, sf_dir)
    cand = (docs.select(F.col("doc_id").alias("doc_a"),
                        (F.col("doc_id") + 1).alias("doc_b"))
            .join(docs.select(F.col("doc_id").alias("doc_b")), "doc_b"))
    return ngram_jaccard_pairs(docs, cand.select("doc_a", "doc_b"))


def q_simhash_pairs(spark, sf_dir):
    """SimHash hamming-ball pairing gate: planted near-dups (one word
    appended) must surface via the chunk pigeonhole join with their
    exact hamming distance. The oracle recomputes the full 64-bit
    bit-vote simhash AND the chunk/verify pipeline in SQL."""
    from cuphic_spark.operators.dedup import simhash_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 25 == 0)
               .select((F.col("doc_id") + 10000).alias("doc_id"),
                       F.concat("text", F.lit(" x")).alias("text")))
    return simhash_pairs(docs.unionByName(planted), max_hamming=3)


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer et al.) — window-min
    over k-gram hashes, leftmost tie-break; the oracle replicates the
    selection with a SQL window min over the same string trick."""
    from cuphic_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def q_dedup_clusters(spark, sf_dir):
    """Full near-dup RESOLUTION chain (iterative!): MinHash LSH
    candidates -> exact Jaccard verify -> connected components
    (large-star/small-star contraction to fixpoint). The corpus plants
    CHAINED near-dup triples (base, +' tail', +' tail tail' for
    doc_id%10==0) so transitive clustering actually exercises
    multi-hop components. The DuckDB oracle replicates the whole
    chain, closing the components with a recursive CTE."""
    from cuphic_spark.operators.dedup import dedup_clusters

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 10 == 0)
    corpus = (docs
              .unionByName(planted.select(
                  (F.col("doc_id") + 10000).alias("doc_id"),
                  F.concat("text", F.lit(" tail")).alias("text")))
              .unionByName(planted.select(
                  (F.col("doc_id") + 20000).alias("doc_id"),
                  F.concat("text", F.lit(" tail tail")).alias("text"))))
    return dedup_clusters(corpus)


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min gap) — lag + running sum
    windows; returns sessions per user."""
    from pyspark.sql import Window
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact AND session-timezone-proof: NTZ subtraction
    # yields a day-time interval directly (no epoch conversion, so the
    # caller's session tz cannot shift the comparison)
    gap = ((F.col("ts") - F.lag("ts").over(w))
           > F.expr("INTERVAL '30' MINUTE")).cast("int")
    sess = events.withColumn(
        "new_sess", F.coalesce(gap, F.lit(1)))
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sess = sess.withColumn("session_id", F.sum("new_sess").over(wsum))
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events")))


def q_quality_by_lang(spark, sf_dir):
    """Quality gate joined back to documents, aggregated per lang —
    the filter-chain shape of a training-data pipeline."""
    from cuphic_spark.operators.textstats import quality_score
    docs = _docs(spark, sf_dir)
    qs = quality_score(docs)
    return (docs.select("doc_id", "lang")
            .join(qs.select("doc_id", "quality_pass"), "doc_id")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("quality_pass").cast("long").alias("n_pass")))


def q_ann_ivf(spark, sf_dir):
    """IVF-style pruned ANN. Oracled on (query_id, neighbor_id,
    rank): the DuckDB twin replicates cells, Hamming-1 probes, and
    the float cosine ordering. The cos_micro VALUE is excluded from
    the output (a truncation-boundary flip of the last digit is
    possible across engines); rank boundaries sit on ~1e-3 cosine
    gaps, far above ulp noise."""
    from cuphic_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    return ivf_topk(emb, queries, k=5, bits=4).select(
        "query_id", "neighbor_id", "rank")


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via MULTI-BAND sign LSH. The
    input unions the embeddings table with an exact-duplicate copy
    (vec_id + 1000000), so the expected output provably contains one
    pair per duplicated vector — a non-vacuous gate (random 64-dim
    embeddings alone have no cosine>=0.9 pairs). Oracled against the
    same band/bucket/cosine pipeline in DuckDB SQL."""
    from cuphic_spark.operators.dedup import embedding_neardup_pairs
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where(F.col("vec_id") < 250)
           .select("vec_id", "embedding"))
    dup = emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                     "embedding")
    return embedding_neardup_pairs(emb.unionByName(dup),
                                   threshold_milli=900)


def q_simhash(spark, sf_dir):
    """SimHash via the numpy Arrow kernel. Oracled: the per-token
    hash is md5's first 8 bytes big-endian, which DuckDB reproduces
    as ('0x' || substr(md5(w),1,16))::UBIGINT, so the full
    bit-vote-sign pipeline has an exact SQL twin."""
    from cuphic_spark.operators.dedup import simhash64
    return simhash64(_docs(spark, sf_dir))


_CRAWL_GATE_KW = dict(universe=5000, n_seeds=12, budget_per_host=4,
                      wave_cap=24, n_waves=3)


def q_crawl_fetch_log(spark, sf_dir):
    """Deterministic 3-wave crawl; returns the full fetch log (the
    'crawl ordering' artifact). The iterative crawl itself is not
    SQL-expressible, but its EXPECTED OUTPUT is: the single-process
    python oracle (tests/oracle/crawl_oracle.py — independent
    canonicalization, robots, frontier model) re-derives the exact
    rows driver-side and the oracle SQL inlines them as a VALUES
    table, so the gate hash-pins ordering, scores, and byte counts
    (round-6 verdict #4: rows-only -> hashed)."""
    import tempfile

    from cuphic_spark.frontier.crawl import CrawlConfig, crawl, read_fetch_log

    d = tempfile.mkdtemp(prefix="cuphic_gate_crawl_")
    cfg = CrawlConfig(**_CRAWL_GATE_KW, checkpoint_dir=d)
    crawl(spark, cfg)
    return (read_fetch_log(spark, cfg)
            .select("wave", "rank_in_wave", "url", "depth", "score", "bytes")
            .orderBy("wave", "rank_in_wave"))


def _wildcard_robots_body(h: int) -> str:
    """Deterministic FULL-RFC robots.txt for host h: wildcards, ``$``
    anchors, and Allow rules no plain prefix match can express, so the
    wave loop's denied_by_rules verdict needs its full longest-match
    semantics. An ``otherbot`` group and a deny-everything ``*``
    group must both be ignored for cuphicbot. Rule shapes: even
    hosts deny /private/ but Allow the LONGER /private/doc/1* back
    (longest-match); h%3==0 hosts add the anchored wildcard
    /doc/*3$ (denies ids ending in 3 — including skew host 0);
    h%3==1 hosts carry an equal-length Allow/Disallow tie on /doc/
    that Allow must win."""
    lines = [f"# full-RFC robots for host{h}",
             "User-agent: otherbot", "Disallow: /", "",
             "User-agent: CuphicBot/1.0",
             "Disallow: /never-generated/"]
    if h % 2 == 0:
        lines += ["Disallow: /private/",
                  "Allow: /private/doc/1*"]
    if h % 3 == 0:
        lines += ["Disallow: /doc/*3$"]
    if h % 3 == 1:
        lines += ["Allow: /doc/", "Disallow: /doc/"]
    lines += ["", "User-agent: *", "Disallow: /"]
    return "\n".join(lines) + "\n"


_ROBOTS_FULL_KW = dict(universe=4000, n_seeds=10, budget_per_host=4,
                       wave_cap=24, n_waves=3)


def _wildcard_bodies_fn(spark, version, n_hosts):
    return spark.createDataFrame(
        [(f"host{h}.example", _wildcard_robots_body(h))
         for h in range(n_hosts)],
        "host string, robots_txt string")


def q_crawl_robots_full(spark, sf_dir):
    """Round-6 verdict #1 gate: a 3-wave crawl whose robots source
    is a wildcard+Allow corpus (``_wildcard_robots_body``) fed
    through extra['robots_txt_fn'] — parse_robots -> rules_dim
    broadcast -> denied_by_rules longest-match verdict inside the
    wave loop (the one robots evaluator, also behind the spec). The
    oracle re-runs the single-process crawl with deny verdicts from
    the pure-Python RFC evaluator (agent_group/path_allowed) and
    inlines the expected fetch log as VALUES — full hash pin."""
    import tempfile

    from cuphic_spark.frontier.crawl import CrawlConfig, crawl, read_fetch_log

    d = tempfile.mkdtemp(prefix="cuphic_gate_robots_full_")
    cfg = CrawlConfig(**_ROBOTS_FULL_KW, checkpoint_dir=d,
                      extra={"robots_txt_fn": _wildcard_bodies_fn})
    crawl(spark, cfg)
    return (read_fetch_log(spark, cfg)
            .select("wave", "rank_in_wave", "url", "depth", "score", "bytes")
            .orderBy("wave", "rank_in_wave"))


def q_rescore_frontier(spark, sf_dir):
    """Offline frontier re-prioritization (frontier/snapshots.py
    rescore_frontier — round-4 verdict item 7), gated through the
    REAL checkpoint plumbing: a seed frontier synthesized from the
    documents table is written band/run-partitioned with a manifest,
    rescored with an inverted priority, and read back through the
    manifest-addressed as-of read. The returned rows are closed-form
    in doc_id, so DuckDB oracles the whole pipeline (seed write ->
    manifest swap -> rescored read) value-exactly."""
    import os as _os
    import tempfile

    from cuphic_spark.frontier import bands
    from cuphic_spark.frontier.crawl import CrawlConfig
    from cuphic_spark.frontier.snapshots import (
        read_frontier_asof,
        rescore_frontier,
    )
    from cuphic_spark.frontier.urlnorm import host_col

    # NOTE: the dir outlives this function deliberately — the
    # returned DataFrame reads from it lazily (the gate driver
    # collects later); a few hundred rows of parquet per gate run
    d = tempfile.mkdtemp(prefix="cuphic_gate_rescore_")
    cfg = CrawlConfig(checkpoint_dir=d, partitions=4, band_width=1000)
    seeds = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://host"),
                 (F.col("doc_id") % 10).cast("string"),
                 F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("depth"),
        (F.lit(10000) + F.col("doc_id") % 7).cast("long").alias("score"),
        F.lit(0).alias("discovered_wave"))
    seeds = seeds.select("url", host_col(F.col("url")).alias("host"),
                         "depth", "score", "discovered_wave")
    seed_dir = _os.path.join(d, "frontier_seed")
    manifest, _ = bands.write_wave_frontier(
        spark, seeds, seed_dir, cfg, bands.empty_manifest(cfg), [])
    bands.write_manifest(seed_dir, manifest)
    rescore_frontier(spark, cfg, F.lit(20000) - F.col("score"))
    return (read_frontier_asof(spark, cfg, -1)
            .select("url", "score", "depth"))


def q_rescore_authority(spark, sf_dir):
    """Authority-blended frontier re-prioritization: the SAME real
    checkpoint plumbing as rescore_frontier, but the new score joins
    a link-authority dim (exact integer PageRank over the synthetic
    graph) — score' = score + rank div 100000. DuckDB oracles the
    whole composition by embedding the unrolled PageRank CTE chain
    under the closed-form frontier reconstruction."""
    import os as _os
    import tempfile

    from cuphic_spark.frontier import bands
    from cuphic_spark.frontier.crawl import CrawlConfig
    from cuphic_spark.frontier.graphrank import pagerank, synthetic_edges
    from cuphic_spark.frontier.snapshots import (
        read_frontier_asof,
        rescore_frontier,
    )
    from cuphic_spark.frontier.urlnorm import host_col

    d = tempfile.mkdtemp(prefix="cuphic_gate_rescore_auth_")
    cfg = CrawlConfig(checkpoint_dir=d, partitions=4, band_width=1000)
    seeds = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://host"),
                 (F.col("doc_id") % 10).cast("string"),
                 F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("depth"),
        (F.lit(10000) + F.col("doc_id") % 7).cast("long").alias("score"),
        F.lit(0).alias("discovered_wave"))
    seeds = seeds.select("url", host_col(F.col("url")).alias("host"),
                         "depth", "score", "discovered_wave")
    seed_dir = _os.path.join(d, "frontier_seed")
    manifest, _ = bands.write_wave_frontier(
        spark, seeds, seed_dir, cfg, bands.empty_manifest(cfg), [])
    bands.write_manifest(seed_dir, manifest)
    u = _docs(spark, sf_dir).count()
    ranks = pagerank(synthetic_edges(spark, u), u, iters=5)
    dim = ranks.select(
        F.concat(F.lit("https://host"),
                 (F.col("id") % 10).cast("string"),
                 F.lit(".example/doc/"),
                 F.col("id").cast("string")).alias("url"),
        "rank")
    rescore_frontier(spark, cfg,
                     F.col("score") + F.expr("rank div 100000L"),
                     dim=dim)
    return (read_frontier_asof(spark, cfg, -1)
            .select("url", "score", "depth"))


def q_tei_scrape_kernel(spark, sf_dir):
    """The reference's own golden corpus through the KERNEL (Arrow)
    path — per-pattern match counts (pytest pins exact values; the
    gate records rows + schema). Raises when the corpus is absent:
    zero pages would compare as zero rows, which pins nothing."""
    from cuphic_spark.operators.parse import scrape_pages
    from cuphic_spark.sources.tei import TEI_DIR, tei_pages

    if not any(TEI_DIR.glob("*.xml")):
        raise FileNotFoundError(f"TEI corpus absent: no *.xml in {TEI_DIR}")
    pats = {
        "all-tags": "[tag ???]",
        "p": "[:p {:xml/id ?id} ???]",
        "persName": "[:persName {:ref ref :type ?type} full-name]",
        "items": "[:item (... item-content)]",
    }
    return (scrape_pages(tei_pages(spark), pats)
            .groupBy("pattern_key")
            .agg(F.count("*").alias("n_matches")))


def q_ann_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_embedding")))
    return inner_product_topk_quantized(emb, queries, k=5)


def q_gopher_quality(spark, sf_dir):
    """Round-6 verdict #7 gate: the FULL Gopher rule set
    (textstats.gopher_quality) over documents rebuilt into
    multi-line shapes that exercise every rule — bullet-prefixed
    first lines (doc_id%4), a bullet second line (doc_id%3), an
    ellipsis-terminated line (doc_id%5), and a final line that is
    either stop-word-rich or symbol-heavy (doc_id%2). The oracle
    performs the identical construction and computes the same seven
    rules in SQL (list_filter / starts_with / ends_with /
    regexp_matches), thresholds compared by cross-multiplication on
    both sides."""
    from cuphic_spark.operators.textstats import gopher_quality

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    did = F.col("doc_id")
    injected = F.concat(
        F.when(did % 4 == 0, F.lit("- ")).otherwise(F.lit("")),
        F.col("text"), F.lit("\n"),
        F.when(did % 3 == 0, F.lit("* second bullet line"))
        .otherwise(F.lit("plain second line")),
        F.lit("\n"),
        F.when(did % 5 == 0, F.lit("this line trails off..."))
        .otherwise(F.lit("this line ends plain")),
        F.lit("\n"),
        F.when(did % 2 == 0, F.lit("the be to of and extra"))
        .otherwise(F.lit("# ## 1234 5678 ...")))
    return gopher_quality(
        docs.select("doc_id", injected.alias("text")), min_words=30)


def _gopher_oracle_sql() -> str:
    """DuckDB twin of q_gopher_quality — bullets and stop words
    single-sourced from textstats.GOPHER_* so a rule-set change
    cannot silently diverge the two sides."""
    from cuphic_spark.operators.textstats import (
        GOPHER_BULLETS,
        GOPHER_STOPWORDS,
    )

    bullet_pred = " OR ".join(
        f"starts_with(l, '{b}')" for b in GOPHER_BULLETS)
    stop_sum = " + ".join(
        f"CASE WHEN contains(padded, ' {s} ') THEN 1 ELSE 0 END"
        for s in GOPHER_STOPWORDS)
    return f"""
        WITH t AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 4 = 0 THEN '- ' ELSE '' END)
                 || text || chr(10)
                 || (CASE WHEN doc_id % 3 = 0
                          THEN '* second bullet line'
                          ELSE 'plain second line' END) || chr(10)
                 || (CASE WHEN doc_id % 5 = 0
                          THEN 'this line trails off...'
                          ELSE 'this line ends plain' END) || chr(10)
                 || (CASE WHEN doc_id % 2 = 0
                          THEN 'the be to of and extra'
                          ELSE '# ## 1234 5678 ...' END) AS text
          FROM documents WHERE doc_id < 400),
        p AS (
          SELECT doc_id, text,
                 ' ' || replace(text, chr(10), ' ') || ' ' AS padded
          FROM t),
        m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(floor((length(text)
                             - (len(string_split(text, ' ')) - 1))
                            * 10.0 / len(string_split(text, ' ')))
                      AS INT) AS avg_word_len_tenths,
                 CAST(length(text) - length(replace(text, '#', ''))
                      + (length(text)
                         - length(replace(text, '...', ''))) / 3
                      AS INT) AS n_symbols,
                 len(string_split(text, chr(10))) AS n_lines,
                 len(list_filter(string_split(text, chr(10)),
                                 l -> {bullet_pred}))
                   AS n_bullet_lines,
                 len(list_filter(string_split(text, chr(10)),
                                 l -> ends_with(l, '...')))
                   AS n_ellipsis_lines,
                 len(list_filter(string_split(text, ' '),
                                 w -> regexp_matches(w, '[A-Za-z]')))
                   AS n_alpha_words,
                 {stop_sum} AS n_stopwords
          FROM p)
        SELECT doc_id,
               n_words::INTEGER AS n_words,
               avg_word_len_tenths,
               n_symbols,
               n_lines::INTEGER AS n_lines,
               n_bullet_lines::INTEGER AS n_bullet_lines,
               n_ellipsis_lines::INTEGER AS n_ellipsis_lines,
               n_alpha_words::INTEGER AS n_alpha_words,
               n_stopwords::INTEGER AS n_stopwords,
               CASE WHEN n_words >= 30 AND n_words <= 100000
                    AND avg_word_len_tenths BETWEEN 30 AND 100
                    AND n_symbols * 10 <= n_words
                    AND n_bullet_lines * 10 < n_lines * 9
                    AND n_ellipsis_lines * 10 < n_lines * 3
                    AND n_alpha_words * 10 >= n_words * 8
                    AND n_stopwords >= 2
                    THEN 1 ELSE 0 END::INTEGER AS gopher_pass
        FROM m
    """


def _ivf_gate_corpus():
    """Closed-form corpus for the persisted-IVF gate: 240 dim-8
    vectors in 4 well-separated clusters, every value an exact
    multiple of 1/8 (dyadic -> float arithmetic is EXACT on both
    sides, so k-means means, dot products, and cos_micro truncation
    are bit-identical between Spark and the numpy twin), plus 6
    probe queries near the cluster centers. Synthetic rather than
    the embeddings table because oracle_sql() carries no sf
    parameter and trained centroids are data-dependent — the
    sign-cell IVF gate (ann_ivf) already runs over the real
    embeddings."""
    import numpy as _np

    centers = _np.full((4, 8), -0.5)
    for c in range(4):
        centers[c, c] = 2.0
        centers[c, c + 4] = 2.0
    ids = _np.arange(240)
    d = _np.arange(8)
    corpus = (centers[ids % 4]
              + ((ids[:, None] * 7 + d[None, :] * 3) % 5 - 2) / 8.0)
    qids = _np.arange(6)
    queries = (centers[qids % 4]
               + ((qids[:, None] * 11 + d[None, :]) % 3 - 1) / 8.0)
    return ids, corpus, 1000 + qids, queries


def q_ann_ivf_indexed(spark, sf_dir):
    """Round-6 verdict #5 gate: the PERSISTED IVF path end-to-end —
    train_ivf_centroids (deterministic Lloyd's) -> build_ivf_index
    (cell-partitioned parquet + centroid sidecar) -> ivf_topk_indexed
    (sidecar-detected trained quantizer, literal partition filter,
    exact re-rank on probed cells). The oracle INDEPENDENTLY
    re-derives everything in numpy/python — same documented training
    spec (lowest-id init, argmin tie -> lowest cell, mean update,
    empty cells keep, allclose break), 2-nearest-centroid probes,
    exact cosine top-k over probed cells with the same tie-break —
    and inlines the expected rows as VALUES (dyadic values make both
    sides exact; see _ivf_gate_corpus)."""
    import tempfile

    from cuphic_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        train_ivf_centroids,
    )

    ids, corpus, qids, qvecs = _ivf_gate_corpus()
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row])
         for i, row in zip(ids, corpus)],
        "vec_id long, embedding array<double>")
    queries_df = spark.createDataFrame(
        [(int(i), [float(v) for v in row])
         for i, row in zip(qids, qvecs)],
        "query_id long, q_embedding array<double>")
    cents = train_ivf_centroids(emb, n_cells=4, max_iter=8)
    path = tempfile.mkdtemp(prefix="cuphic_gate_ivf_")
    build_ivf_index(emb, path, centroids=cents)
    return ivf_topk_indexed(spark, path, queries_df, k=5, n_probe=2)


def q_lm_fluency(spark, sf_dir):
    """Corpus-trained bigram LM fluency in integer ppm
    (operators/textstats.py lm_fluency) — CCNet-style quality
    signal, floor arithmetic so the hash is partitioning-exact."""
    from cuphic_spark.operators.textstats import lm_fluency
    return lm_fluency(_docs(spark, sf_dir))


#: Closed-form varied-URL corpus for the crawler-trap gate — the SQL
#: dialect subset here (CASE / % / || / repeat / cast) evaluates
#: identically in Spark SQL and DuckDB, so both sides synthesize the
#: same urls and only the OPERATOR under test differs.
_TRAP_URL_CASE = """
    CASE doc_id % 6
      WHEN 0 THEN 'https://h.example/a/b'
                  || repeat('/a', cast(doc_id % 5 AS INTEGER)) || '/p'
      WHEN 1 THEN 'https://h.example/d?phpsessid='
                  || cast(doc_id AS {str_t}) || '&x=1'
      WHEN 2 THEN 'https://h.example/'
                  || cast(2000 + doc_id % 30 AS {str_t}) || '/'
                  || cast(doc_id % 12 + 1 AS {str_t}) || '/'
                  || cast(doc_id % 28 + 1 AS {str_t}) || '/post'
      WHEN 3 THEN 'https://h.example/doc/'
                  || cast(doc_id AS {str_t}) || '?a=1&b=2'
      WHEN 4 THEN 'https://h.example/s/t/u/v/w/x/y/z/s/t/u/v/w'
      ELSE 'https://h.example/doc/'
           || cast(doc_id AS {str_t}) || '#frag'
    END
"""


def q_host_authority(spark, sf_dir):
    """Host-authority rollup of exact PageRank — the politeness-
    budget signal (frontier/graphrank.py host_authority)."""
    from cuphic_spark.frontier.graphrank import (
        host_authority, pagerank, synthetic_edges)
    u = _graph_universe(spark, sf_dir)
    return host_authority(pagerank(synthetic_edges(spark, u), u,
                                   iters=5))


def q_wet_roundtrip(spark, sf_dir):
    """WARC -> WET derivation end-to-end: documents packed into
    per-record-gzip WARC files executor-side, read back (gzip walk +
    envelope strip), byte-identity text extraction, re-packed as WET
    conversion records (sources/warc.py wet_files_from_pages), read
    back AGAIN through the conversion filter. The oracle re-derives
    (url, warc_ts, extracted) closed-form, so both container
    roundtrips are value-pinned in one gate."""
    from cuphic_spark.operators.parse import pages_extract_text
    from cuphic_spark.sources.warc import (
        read_warc, read_wet, wet_files_from_pages, write_warc)

    docs = (_docs(spark, sf_dir).where(F.col("doc_id") < 400)
            .select("doc_id", "text",
                    (F.col("doc_id") % 10).alias("g")))

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        recs = [(f"https://warc{int(d) % 10}.example/doc/{int(d)}",
                 f"2026-08-{1 + int(d) % 28:02d}T00:00:00Z",
                 f"<doc><p>warc {t}</p></doc>".encode())
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        return pd.DataFrame({"content": [write_warc(recs)]})

    files = docs.groupBy("g").applyInPandas(pack, "content binary")
    pages = read_warc(files)
    text = pages_extract_text(pages.select("url", "html"))
    joined = (pages.select("url", "warc_ts").join(text, "url")
              .withColumn("wet_group",
                          F.pmod(F.xxhash64("url"), F.lit(8))))
    wet_files = wet_files_from_pages(joined)
    return (read_wet(wet_files)
            .select("url", "warc_ts",
                    F.col("text").alias("extracted")))


def q_nfc_normalize(spark, sf_dir):
    """Unicode NFC gate: every third document gets a combining-mark
    suffix (e+U+0301, A+U+030A) appended closed-form; the Spark side
    composes via stdlib unicodedata (Arrow-batched), the oracle via
    DuckDB's built-in nfc_normalize — two independent UAX #15
    implementations must agree byte-for-byte."""
    from cuphic_spark.operators.webclean import normalize_nfc
    # DECOMPOSED via chr (no source-encoding ambiguity):
    # e+COMBINING ACUTE, A+COMBINING RING
    suffix = " cafe" + chr(0x301) + " A" + chr(0x30A)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat("text", F.lit(suffix)))
        .otherwise(F.col("text")).alias("text"))
    return normalize_nfc(docs).select(
        "doc_id", "normalized", "was_denormalized")


def q_ingest_dedup(spark, sf_dir):
    """Snapshot-vs-delta ingest dedup (operators/dedup.py
    ingest_dedup_flags): incoming batch = exact copies (%40),
    one-word-appended near copies (%25 — the simhash_pairs planting)
    and fresh docs (%30) derived from the corpus; flags checked
    against the full md5 + 64-bit bit-vote SimHash twin in SQL."""
    from cuphic_spark.operators.dedup import ingest_dedup_flags
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    inc = (docs.where(F.col("doc_id") % 40 == 0)
           .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
           .unionByName(
               docs.where(F.col("doc_id") % 25 == 0)
               .select((F.col("doc_id") + 20000).alias("doc_id"),
                       F.concat("text", F.lit(" x")).alias("text")))
           .unionByName(
               docs.where(F.col("doc_id") % 30 == 0)
               .select((F.col("doc_id") + 30000).alias("doc_id"),
                       F.concat(F.lit("fresh unseen doc "),
                                F.col("doc_id").cast("string"))
                       .alias("text"))))
    return ingest_dedup_flags(docs, inc, max_hamming=3)


def q_link_hygiene(spark, sf_dir):
    """REP page-level extensions (frontier/robots.py): <meta
    name=robots> directives + rel=nofollow link hygiene through the
    kernel patterns. Pages are closed-form: doc_id%6 selects the
    meta directive (absent for %6 >= 3), doc_id%3 anchors with
    rel=nofollow on (doc_id+j)%2==0."""
    from cuphic_spark.frontier.robots import (
        ANCHOR_REL_PATTERN, META_ROBOTS_PATTERN,
        followable_links, meta_directives)
    from cuphic_spark.operators.parse import pages_to_nodes

    def gen(batches):
        import pandas as pd

        metas = ["noindex", "nofollow", "noindex, nofollow"]
        for pdf in batches:
            urls, htmls = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                m = d % 6
                meta = (f'<meta name="robots" '
                        f'content="{metas[m]}"/>' if m < 3 else "")
                anchors = "".join(
                    '<a href="https://t.example/%d-%d"%s>L</a>'
                    % (d, j, ' rel="nofollow"'
                       if (d + j) % 2 == 0 else "")
                    for j in range(d % 3))
                urls.append(f"https://h{d % 10}.example/doc/{d}")
                htmls.append(
                    f"<doc>{meta}{anchors}<p>x</p></doc>".encode())
            yield pd.DataFrame({"url": urls, "html": htmls})

    pages = (_docs(spark, sf_dir).select("doc_id")
             .mapInPandas(gen, "url string, html binary"))
    m = match_nodes(pages_to_nodes(pages), [
        compile_pattern("hyg_meta", META_ROBOTS_PATTERN),
        compile_pattern("hyg_rel", ANCHOR_REL_PATTERN)])
    md = meta_directives(m.where(F.col("pattern_key") == "hyg_meta"))
    fl = (followable_links(m.where(F.col("pattern_key") == "hyg_rel"))
          .groupBy("url")
          .agg(F.count("*").alias("n_links"),
               F.sum(F.col("followable").cast("int"))
               .alias("n_followable")))
    return (pages.select("url")
            .join(md, "url", "left").join(fl, "url", "left")
            .select("url",
                    F.coalesce("noindex", F.lit(False))
                    .alias("noindex"),
                    F.coalesce("nofollow_meta", F.lit(False))
                    .alias("nofollow_meta"),
                    F.coalesce("n_links", F.lit(0)).cast("long")
                    .alias("n_links"),
                    F.coalesce("n_followable", F.lit(0)).cast("long")
                    .alias("n_followable")))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination gate: documents with doc_id < 20
    play the eval suite, the rest the corpus; every corpus doc's
    8-word windows are checked against the benchmark window set
    (operators/dedup.py contamination_flags — broadcast semi-join,
    corpus never shuffles)."""
    from cuphic_spark.operators.dedup import contamination_flags
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(~(F.col("doc_id") < 20))
    return contamination_flags(corpus, bench, k=8)


def q_train_sample(spark, sf_dir):
    """Training-mix construction (operators/sampling.py):
    deterministic stratified sampling (per-stratum md5-threshold
    fractions) + independent-stream shard assignment — identical
    membership at any partitioning, hash-exact vs the DuckDB twin."""
    from cuphic_spark.operators.sampling import (
        assign_shards, stratified_sample)
    docs = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 3).alias("stratum"))
    sampled = stratified_sample(
        docs, F.col("stratum"), {0: 0.5, 1: 0.25, 2: 1.0},
        seed="r7")
    return (assign_shards(sampled, n_shards=8, seed="r7")
            .select("doc_id", F.col("stratum").cast("long")
                    .alias("stratum"), "shard"))


def q_wat_metadata(spark, sf_dir):
    """WAT derivation end-to-end: richer synthetic pages (title +
    0-3 anchors) packed into WARC executor-side, parsed via the
    kernel patterns (title text + anchor hrefs in document order by
    node_id), serialized as canonical-JSON WAT metadata records
    (sources/warc.py wat_files_from_pages), read back through the
    metadata filter. Oracle re-derives (url, title, n_links,
    links_csv) closed-form."""
    from cuphic_spark.operators.parse import pages_to_nodes
    from cuphic_spark.sources.warc import (
        read_warc, read_wat, wat_files_from_pages, write_warc)

    docs = (_docs(spark, sf_dir).where(F.col("doc_id") < 400)
            .select("doc_id", (F.col("doc_id") % 10).alias("g")))

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        recs = []
        for d in pdf["doc_id"]:
            d = int(d)
            anchors = "".join(
                f'<a href="https://t.example/l/{d}-{j}">A{j}</a>'
                for j in range(d % 4))
            html = (f"<doc><title>T{d}</title>{anchors}"
                    f"<p>x</p></doc>").encode()
            recs.append(
                (f"https://warc{d % 10}.example/doc/{d}",
                 f"2026-08-{1 + d % 28:02d}T00:00:00Z", html))
        return pd.DataFrame({"content": [write_warc(recs)]})

    files = docs.groupBy("g").applyInPandas(pack, "content binary")
    pages = read_warc(files)
    nodes = pages_to_nodes(pages)
    m = match_nodes(nodes, [
        compile_pattern("wat_title", "[:title {} t]"),
        compile_pattern("wat_links", "[:a {:href href} anchor]")])
    titles = (m.where(F.col("pattern_key") == "wat_title")
              .select("url", F.element_at("bindings", "t")
                      .alias("title")))
    links = (m.where(F.col("pattern_key") == "wat_links")
             .groupBy("url")
             .agg(F.transform(
                 F.sort_array(F.collect_list(F.struct(
                     F.col("node_id").alias("nid"),
                     F.element_at("bindings", "href")
                     .alias("href")))),
                 lambda s: s["href"]).alias("links")))
    meta = (pages.select("url", "warc_ts")
            .join(titles, "url", "left")
            .join(links, "url", "left")
            .select("url", "warc_ts",
                    F.coalesce("title", F.lit("")).alias("title"),
                    F.coalesce("links", F.array().cast(
                        "array<string>")).alias("links"))
            .withColumn("wat_group",
                        F.pmod(F.xxhash64("url"), F.lit(8))))
    return read_wat(wat_files_from_pages(meta))


def q_span_dedup(spark, sf_dir):
    """Duplicated k-word-window signal (operators/dedup.py
    span_dedup_flags) — the deduplicate-text-datasets sketch at word
    granularity, integer ppm rollup per doc."""
    from cuphic_spark.operators.dedup import span_dedup_flags
    return span_dedup_flags(_docs(spark, sf_dir), k=8)


def q_url_traps(spark, sf_dir):
    """Crawler-trap signal vector (frontier/urltrap.py) over a
    closed-form corpus covering the trap taxonomy: path self-loops,
    session-id params, calendar digit stacks, deep paths, fragments."""
    from cuphic_spark.frontier.urltrap import url_trap_signals
    urls = _docs(spark, sf_dir).select(
        F.expr(_TRAP_URL_CASE.format(str_t="STRING")).alias("url"))
    return url_trap_signals(urls)


def _graph_universe(spark, sf_dir: str) -> int:
    """Synthetic-web universe for the link-graph gates, scaled from
    the sf (orders row count: 1500 at sf0.001, 15000 at sf0.01)."""
    return spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def q_pagerank_exact(spark, sf_dir):
    """Exact integer fixed-point PageRank + in-degree over the
    synthetic link graph (frontier/graphrank.py) — every arithmetic
    step integer, so the hash matches the unrolled DuckDB CTE chain
    at any partitioning."""
    from cuphic_spark.frontier.graphrank import (
        in_degree, pagerank, synthetic_edges)
    u = _graph_universe(spark, sf_dir)
    edges = synthetic_edges(spark, u)
    pr = pagerank(edges, u, iters=5)
    ind = in_degree(edges)
    return (pr.join(ind, pr.id == ind.dst, "left")
            .select("id", "rank",
                    F.coalesce("in_deg", F.lit(0))
                    .cast("long").alias("in_deg")))


def q_anchor_stats(spark, sf_dir):
    """Per-canonical-target anchor-text rollup through the REAL
    pipeline — simulated fetch, expat parse to nodes, kernel anchor
    pattern, urlnorm canonicalization — vs a closed-form RFC-3986
    reconstruction in SQL."""
    from cuphic_spark.frontier.graphrank import (
        anchor_stats, synthetic_pages)
    u = _graph_universe(spark, sf_dir)
    pages = synthetic_pages(spark, u)
    nodes = pages_to_nodes(pages)
    m = match_nodes(nodes,
                    [compile_pattern("anchors",
                                     "[:a {:href href} anchor]")])
    return anchor_stats(pages, m)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_text": q_extract_text,
        "extract_text_parity": q_extract_text_parity,
        "match_link_count": q_match_link_count,
        "match_term": q_match_term,
        "match_p_optional_id": q_match_p_optional_id,
        "match_li_bullet": q_match_li_bullet,
        "link_host_counts": q_link_host_counts,
        "tag_histogram": q_tag_histogram,
        "politeness_topk": q_politeness_topk,
        "seen_anti_join": q_seen_anti_join,
        "lenient_extract": q_lenient_extract,
        "charset_extract": q_charset_extract,
        "boilerplate_strip": q_boilerplate_strip,
        "warc_extract": q_warc_extract,
        "repetition_stats": q_repetition_stats,
        "top_terms_tfidf": q_top_terms_tfidf,
        "pii_scrub": q_pii_scrub,
        "chunk_text": q_chunk_text,
        "rewrite_drop_links": q_rewrite_drop_links,
        "frontier_merge": q_frontier_merge,
        "events_agg": q_events_agg,
        "top5_orders": q_top5_orders,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "gopher_quality": q_gopher_quality,
        "line_dedup": q_line_dedup,
        "fix_mojibake": q_fix_mojibake,
        "doc_filter": q_doc_filter,
        "script_detect": q_script_detect,
        "ngram_diversity": q_ngram_diversity,
        "lang_id": q_lang_id,
        "minhash_signature": q_minhash_signature,
        "minhash_wide": q_minhash_wide,
        "lsh_pairs_web08": q_lsh_pairs_web08,
        "robots_decisions": q_robots_decisions,
        "sitemap_extract": q_sitemap_extract,
        "rescore_frontier": q_rescore_frontier,
        "rescore_authority": q_rescore_authority,
        "ann_topk": q_ann_topk,
        "term_join_nodes": q_term_join_nodes,
        "first_link_per_url": q_first_link_per_url,
        "url_canonicalize": q_url_canonicalize,
        "fingerprint": q_fingerprint,
        "ngram_jaccard_adjacent": q_ngram_jaccard_adjacent,
        "dedup_clusters": q_dedup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "winnow_fingerprint": q_winnow_fingerprint,
        "event_sessions": q_event_sessions,
        "quality_by_lang": q_quality_by_lang,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "embedding_neardup": q_embedding_neardup,
        "simhash": q_simhash,
        "pagerank_exact": q_pagerank_exact,
        "anchor_stats": q_anchor_stats,
        "lm_fluency": q_lm_fluency,
        "url_traps": q_url_traps,
        "span_dedup": q_span_dedup,
        "wet_roundtrip": q_wet_roundtrip,
        "wat_metadata": q_wat_metadata,
        "train_sample": q_train_sample,
        "decontaminate": q_decontaminate,
        "link_hygiene": q_link_hygiene,
        "ingest_dedup": q_ingest_dedup,
        "nfc_normalize": q_nfc_normalize,
        "host_authority": q_host_authority,
        # rows-only (non-SQL by nature: iterative crawl state /
        # kernel-path TEI parsing)
        "crawl_fetch_log": q_crawl_fetch_log,
        "crawl_robots_full": q_crawl_robots_full,
        "tei_scrape_kernel": q_tei_scrape_kernel,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_LINKS_TEXT = ("CASE WHEN n_links > 0 THEN array_to_string("
               "list_transform(range(n_links), k -> 'L' || uid || '-' || k),"
               " '') ELSE '' END")

_LI_TEXT = ("CASE WHEN li_case = 0 THEN '\u2022' || li_bold "
            "WHEN li_case = 2 THEN '\u2022' ELSE '' END")


def _decontaminate_oracle() -> str:
    from cuphic_spark.operators.dedup import contamination_oracle_sql
    return contamination_oracle_sql(k=8, bench_pred="doc_id < 20")


def _train_sample_oracle() -> str:
    from cuphic_spark.operators.sampling import sample_oracle_sql
    return sample_oracle_sql({0: 0.5, 1: 0.25, 2: 1.0}, 8,
                             "doc_id % 3", seed="r7")


def _host_authority_oracle() -> str:
    from cuphic_spark.frontier.graphrank import host_authority_oracle_sql
    return host_authority_oracle_sql("SELECT count(*) FROM orders")


def _span_dedup_oracle() -> str:
    from cuphic_spark.operators.dedup import span_dedup_oracle_sql
    return span_dedup_oracle_sql(k=8)


def _url_traps_oracle() -> str:
    from cuphic_spark.frontier.urltrap import trap_signals_oracle_sql
    urls_cte = ("SELECT " + _TRAP_URL_CASE.format(str_t="VARCHAR")
                + " AS url FROM documents")
    return trap_signals_oracle_sql(urls_cte)


def _lm_fluency_oracle() -> str:
    from cuphic_spark.operators.textstats import lm_fluency_oracle_sql
    return lm_fluency_oracle_sql()


def _rescore_authority_oracle() -> str:
    from cuphic_spark.frontier.graphrank import pagerank_cte_chain
    chain = pagerank_cte_chain("SELECT count(*) FROM documents")
    return f"""WITH {chain}
        SELECT 'https://host' || (d.doc_id % 10) || '.example/doc/'
                 || d.doc_id AS url,
               (10000 + d.doc_id % 7 + r.rank // 100000)::BIGINT
                 AS score,
               0 AS depth
        FROM documents d JOIN r5 r ON d.doc_id = r.id"""


def _graphrank_oracle() -> tuple[str, str]:
    """(pagerank_exact, anchor_stats) DuckDB twins at the same
    orders-count universe the Spark queries use."""
    from cuphic_spark.frontier.graphrank import (
        anchor_oracle_sql, pagerank_oracle_sql)
    u = "SELECT count(*) FROM orders"
    return pagerank_oracle_sql(u, iters=5), anchor_oracle_sql(u)


def oracle_sql() -> dict[str, str]:
    return {
        "extract_text": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url,
                   title_text || doc_text || {_LINKS_TEXT} ||
                   CASE WHEN has_term THEN term_word ELSE '' END ||
                   {_LI_TEXT} AS extracted
            FROM pages
        """,
        "extract_text_parity": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT count(*)::BIGINT AS n_pages,
                   count(*)::BIGINT AS n_identical
            FROM pages
        """,
        "match_link_count": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url, n_links::BIGINT AS n_links_found
            FROM pages WHERE n_links > 0
        """,
        "match_term": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url, term_type, term_word AS term_name
            FROM pages WHERE has_term
        """,
        "match_p_optional_id": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url, 'p' || uid AS p_id FROM pages
        """,
        "match_li_bullet": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url,
                   CASE WHEN li_case = 0
                        THEN '[:b {{}} "' || li_bold || '"]'
                        ELSE 'nil' END AS body
            FROM pages WHERE li_case IN (0, 2)
        """,
        "link_host_counts": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT 'host' || ((uid + k) % 10) || '.example' AS host,
                   count(*)::BIGINT AS n
            FROM pages, UNNEST(range(n_links)) AS t(k)
            GROUP BY 1
        """,
        "tag_histogram": f"""
            WITH pages AS ({_PAGES_CTE}),
            t AS (
              SELECT 'doc' AS tag, count(*)::BIGINT AS n FROM pages
              UNION ALL SELECT 'title', count(*)::BIGINT FROM pages
              UNION ALL SELECT 'p', count(*)::BIGINT FROM pages
              UNION ALL SELECT 'a', coalesce(sum(n_links), 0)::BIGINT FROM pages
              UNION ALL SELECT 'term',
                        count(*) FILTER (WHERE has_term)::BIGINT FROM pages
              UNION ALL SELECT 'li',
                        count(*) FILTER (WHERE li_case IN (0, 2))::BIGINT
                        FROM pages
              UNION ALL SELECT 'b',
                        count(*) FILTER (WHERE li_case = 0)::BIGINT FROM pages
            )
            SELECT tag, n FROM t WHERE n > 0
        """,
        "politeness_topk": """
            SELECT o_custkey, o_orderkey, rk::INTEGER AS rk FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC,
                                                 o_orderkey) AS rk
              FROM orders) WHERE rk <= 3
        """,
        "seen_anti_join": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
        """,
        "frontier_merge": """
            SELECT DISTINCT id FROM (
              SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
              UNION ALL
              SELECT c_custkey AS id FROM customer WHERE c_acctbal > 0)
        """,
        "events_agg": """
            SELECT event_type,
                   count(*)::BIGINT AS n_events,
                   sum(round(value * 100)::BIGINT)::BIGINT AS value_cents,
                   count(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY event_type
        """,
        "top5_orders": """
            SELECT o_orderkey, o_custkey FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_copies,
                   min(doc_id) AS rep_doc_id
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)
            GROUP BY 1 HAVING count(*) > 1
        """,
        "token_count": """
            SELECT doc_id,
                   len(string_split(text, ' '))::INTEGER AS n_tokens,
                   list_sum(list_transform(string_split(text, ' '),
                            w -> ceil(length(w) / 4.0)::INT))::INTEGER
                     AS n_subwords,
                   length(text)::INTEGER AS n_chars_actual
            FROM documents
        """,
        "quality_score": """
            SELECT doc_id,
                   n_words::INTEGER AS n_words,
                   n_chars::INTEGER AS n_chars_len,
                   floor((n_chars - (n_words - 1)) * 10.0 / n_words)::INTEGER
                     AS avg_word_len_tenths,
                   CASE WHEN n_words >= 20 AND n_words <= 80
                        AND floor((n_chars - (n_words - 1)) * 10.0
                                  / n_words) <= 80
                        THEN 1 ELSE 0 END::INTEGER AS quality_pass
            FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
                         length(text) AS n_chars
                  FROM documents)
        """,
        "gopher_quality": _gopher_oracle_sql(),
        "line_dedup": """
            WITH corpus AS (
              SELECT doc_id,
                     array_to_string(list_slice(
                       string_split(text,' '), 1, 8), ' ')
                     || chr(10) || 'shared navbar line '
                     || CAST(doc_id % 7 AS VARCHAR)
                     || chr(10) || array_to_string(list_slice(
                       string_split(text,' '), 9, 16), ' ')
                     || chr(10) || 'ok' AS text
              FROM documents WHERE doc_id < 400),
            lines AS (
              SELECT doc_id, CAST(t.i AS INTEGER) - 1 AS pos,
                     string_split(text, chr(10))[t.i] AS line,
                     len(string_split(text, chr(10))[t.i]) >= 4
                       AS participates
              FROM corpus,
                   UNNEST(range(1, len(string_split(text, chr(10)))
                                + 1)) AS t(i)),
            winners AS (
              SELECT md5(line) AS digest,
                     min({'d': doc_id, 'p': pos}) AS w
              FROM lines WHERE participates GROUP BY 1),
            kept AS (
              SELECT l.* FROM lines l
              LEFT JOIN winners w
                ON md5(l.line) = w.digest AND l.participates
              WHERE NOT l.participates
                 OR (l.doc_id = w.w.d AND l.pos = w.w.p)),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text,
                     CAST(count(*) AS INTEGER) AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT c.doc_id, coalesce(r.text, '') AS text,
                   coalesce(r.n_kept, 0) AS n_kept,
                   CAST(len(string_split(c.text, chr(10)))
                        - coalesce(r.n_kept, 0) AS INTEGER)
                     AS n_dropped
            FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
        """,
        "fix_mojibake": _mojibake_oracle(),
        "doc_filter": _doc_filter_oracle(),
        "script_detect": _script_detect_oracle(),
        "ngram_diversity": _NGRAM_DIVERSITY_ORACLE,
        "lang_id": lang_id_oracle_sql(),
        "first_link_per_url": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url, 3::BIGINT AS first_link_node_id,
                   'https://host' || (uid % 10) || '.example/doc/' ||
                   ((uid * 31) % (SELECT count(*) * {DEFAULT_COPIES}
                                  FROM documents)) AS first_href
            FROM pages WHERE n_links > 0
        """,
        "url_canonicalize": """
            SELECT doc_id,
                   'https://host' || (doc_id % 10) || '.example/doc/'
                   || doc_id AS canonical_url
            FROM documents
        """,
        "term_join_nodes": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url, term_word AS term_name,
                   (3 + n_links)::BIGINT AS term_node_id,
                   1 AS depth
            FROM pages WHERE has_term
        """,
        "fingerprint": """
            SELECT doc_id, md5(text) AS text_md5,
                   list_reduce(
                     list_transform(string_split(substr(text, 1, 32), ''),
                                    c -> ascii(c)::BIGINT),
                     (a, b) -> (a * 31 + b) % 2147483648)::BIGINT
                     AS rolling_hash
            FROM documents
        """,
        "ngram_jaccard_adjacent": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(len(w) - 2),
                       i -> array_to_string(w[(i+1):(i+3)], ' '))) AS s
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   ((len(list_intersect(a.s, b.s)) * 1000)
                    // len(list_distinct(list_concat(a.s, b.s))))::INTEGER
                     AS jaccard_milli
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "winnow_fingerprint": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents WHERE len(string_split(text, ' ')) >= 6),
            g AS (SELECT doc_id, i,
                         md5(array_to_string(w[(i+1):(i+3)], ' ')) AS h,
                         len(w) - 3 AS max_i
                  FROM t, UNNEST(range(len(w) - 2)) AS u(i)),
            m AS (SELECT doc_id, i, max_i,
                         min(h || ':' || lpad(i::VARCHAR, 6, '0'))
                           OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS BETWEEN CURRENT ROW
                                 AND 3 FOLLOWING) AS sel
                  FROM g)
            SELECT DISTINCT doc_id,
                   substr(sel, 34, 6)::INT AS pos,
                   substr(sel, 1, 32) AS gram_hash
            FROM m WHERE i <= max_i - 3
        """,
        "simhash_pairs": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text || ' x' FROM documents
              WHERE doc_id % 25 = 0),
            words AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM corpus),
            hashes AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
              FROM words),
            bitvotes AS (
              SELECT doc_id, b.bit,
                     SUM(CASE WHEN (h >> b.bit) & 1 = 1
                         THEN 1 ELSE -1 END) AS vote
              FROM hashes
              CROSS JOIN (SELECT unnest(range(64)) AS bit) b
              GROUP BY doc_id, b.bit),
            sig AS (
              SELECT doc_id,
                     SUM(CASE WHEN vote > 0
                         THEN (1::HUGEINT << bit)
                         ELSE 0::HUGEINT END)::UBIGINT AS u
              FROM bitvotes GROUP BY doc_id),
            chunks AS (
              SELECT doc_id, u, i AS chunk_ix,
                     (u >> (i * 16)) & 65535 AS chunk_val
              FROM sig, UNNEST(range(4)) AS t(i)),
            cand AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                     l.u AS ua, r.u AS ub
              FROM chunks l JOIN chunks r
                ON l.chunk_ix = r.chunk_ix
               AND l.chunk_val = r.chunk_val
               AND l.doc_id < r.doc_id)
            SELECT doc_a, doc_b,
                   bit_count(xor(ua, ub))::INT AS hamming
            FROM cand WHERE bit_count(xor(ua, ub)) <= 3
        """,
        "dedup_clusters": """
            WITH RECURSIVE
            corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text || ' tail' FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000, text || ' tail tail' FROM documents
              WHERE doc_id % 10 = 0),
            sh AS (
              SELECT doc_id,
                     list_transform(range(len(w) - 2),
                       i -> array_to_string(w[(i+1):(i+3)], ' ')) AS s
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM corpus) WHERE len(w) >= 3),
            sig AS (
              SELECT doc_id,
                     [list_aggregate(list_transform(s,
                        x -> substr(md5(((2*b) // 4) || ':' || x),
                                    ((2*b) % 4) * 8 + 1, 8)),
                        'min') || '|' ||
                      list_aggregate(list_transform(s,
                        x -> substr(md5(((2*b+1) // 4) || ':' || x),
                                    ((2*b+1) % 4) * 8 + 1, 8)),
                        'min')
                      FOR b IN [0, 1, 2, 3]] AS bands
              FROM sh),
            bandrows AS (
              SELECT doc_id, b AS band, bands[b + 1] AS band_val
              FROM sig, UNNEST(range(4)) AS t(b)),
            cand AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM bandrows l JOIN bandrows r
                ON l.band = r.band AND l.band_val = r.band_val
               AND l.doc_id < r.doc_id),
            shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM cand c
              JOIN shd a ON a.doc_id = c.doc_a
              JOIN shd b ON b.doc_id = c.doc_b
              WHERE (len(list_intersect(a.s, b.s)) * 1000)
                    // len(list_distinct(list_concat(a.s, b.s))) >= 800),
            sym AS (SELECT u, v FROM edges
                    UNION SELECT v, u FROM edges),
            reach(node, label) AS (
              SELECT u, u FROM sym
              UNION
              SELECT s.v, r.label FROM reach r
              JOIN sym s ON s.u = r.node)
            SELECT node AS doc_id, min(label)::BIGINT AS component
            FROM reach GROUP BY node
        """,
        "event_sessions": """
            WITH s AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL THEN 1
                          WHEN ts - lag(ts) OVER w
                               > INTERVAL 30 MINUTE THEN 1
                          ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
              SELECT user_id,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                       AS session_id
              FROM s
            )
            SELECT user_id, max(session_id)::BIGINT AS n_sessions,
                   count(*)::BIGINT AS n_events
            FROM numbered GROUP BY user_id
        """,
        "quality_by_lang": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN n_words >= 20 AND n_words <= 80
                            AND floor((n_chars - (n_words - 1)) * 10.0
                                      / n_words) <= 80
                            THEN 1 ELSE 0 END)::BIGINT AS n_pass
            FROM (SELECT lang, len(string_split(text, ' ')) AS n_words,
                         length(text) AS n_chars FROM documents)
            GROUP BY lang
        """,
        "minhash_signature": """
            SELECT doc_id,
                   list_aggregate(list_transform(sh,
                     s -> substr(md5('0:' || s), 1, 8)),
                                  'min') AS minhash_0,
                   list_aggregate(list_transform(sh,
                     s -> substr(md5('0:' || s), 9, 8)),
                                  'min') AS minhash_1,
                   list_aggregate(list_transform(sh,
                     s -> substr(md5('0:' || s), 17, 8)),
                                  'min') AS minhash_2,
                   list_aggregate(list_transform(sh,
                     s -> substr(md5('0:' || s), 25, 8)),
                                  'min') AS minhash_3
            FROM (SELECT doc_id,
                         list_transform(range(len(w) - 2),
                           i -> array_to_string(w[(i+1):(i+3)], ' ')) AS sh
                  FROM (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents)
                  WHERE len(w) >= 3)
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_sum(list_transform(range(len(e.embedding)),
                       i -> round(e.embedding[i+1]::DOUBLE * 10000)::BIGINT
                          * round(q.qe[i+1]::DOUBLE * 10000)::BIGINT))::BIGINT
                       AS dot_q
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, neighbor_id, dot_q,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dot_q DESC, neighbor_id)
                       AS rank
              FROM scored)
            SELECT query_id, neighbor_id, rank::INTEGER AS rank, dot_q
            FROM ranked WHERE rank <= 5
        """,
        "embedding_neardup": _neardup_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "ann_ivf_indexed": _ann_ivf_indexed_oracle_sql(),
        "lenient_extract": """
            SELECT 'soup://' || CAST(doc_id AS VARCHAR) AS url,
                   text || ' & tail' AS extracted
            FROM documents WHERE doc_id < 200
        """,
        "repetition_stats": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 400),
            u AS (
              SELECT doc_id, len(w) AS n_words, unnest(w) AS g FROM d),
            uc AS (
              SELECT doc_id, n_words, g, count(*) AS c
              FROM u GROUP BY 1, 2, 3),
            um AS (
              SELECT doc_id, n_words, max(c) AS top_c
              FROM uc GROUP BY 1, 2),
            b AS (
              SELECT doc_id, len(w) AS n_words,
                     unnest([array_to_string(w[i:i+1], ' ')
                             FOR i IN range(1, len(w))]) AS g
              FROM d WHERE len(w) >= 2),
            bc AS (
              SELECT doc_id, n_words, g, count(*) AS c
              FROM b GROUP BY 1, 2, 3),
            bm AS (
              SELECT doc_id,
                     CAST(floor(max(c) * 1000.0
                                / (any_value(n_words) - 1))
                          AS INTEGER) AS top_bigram_permille
              FROM bc GROUP BY 1)
            SELECT um.doc_id,
                   CAST(um.n_words AS INTEGER) AS n_words,
                   CAST(floor(um.top_c * 1000.0 / um.n_words)
                        AS INTEGER) AS top_word_permille,
                   coalesce(bm.top_bigram_permille, 0)
                     AS top_bigram_permille
            FROM um LEFT JOIN bm USING (doc_id)
        """,
        "top_terms_tfidf": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 400),
            t AS (
              SELECT doc_id, len(w) AS n_words, unnest(w) AS term
              FROM d),
            tf AS (
              SELECT doc_id, n_words, term, count(*) AS tf
              FROM t GROUP BY 1, 2, 3),
            df AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS nd FROM d),
            s AS (
              SELECT doc_id, term,
                     CAST(round(tf * 1000.0 / n_words
                                * ln(nd * 1.0 / df)) AS INTEGER)
                       AS score_permille
              FROM tf JOIN df USING (term), n),
            r AS (
              SELECT doc_id, term, score_permille,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_permille DESC, term) AS rank
              FROM s)
            SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
                   score_permille
            FROM r WHERE rank <= 3
        """,
        "warc_extract": """
            SELECT 'https://warc' || CAST(doc_id % 10 AS VARCHAR)
                     || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   '2026-08-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                                      2, '0') || 'T00:00:00Z'
                     AS warc_ts,
                   'warc ' || text AS extracted
            FROM documents WHERE doc_id < 400
        """,
        "wet_roundtrip": """
            SELECT 'https://warc' || CAST(doc_id % 10 AS VARCHAR)
                     || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   '2026-08-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                                      2, '0') || 'T00:00:00Z'
                     AS warc_ts,
                   'warc ' || text AS extracted
            FROM documents WHERE doc_id < 400
        """,
        "wat_metadata": """
            SELECT 'https://warc' || CAST(doc_id % 10 AS VARCHAR)
                     || '.example/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   '2026-08-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                                      2, '0') || 'T00:00:00Z'
                     AS warc_ts,
                   'T' || CAST(doc_id AS VARCHAR) AS title,
                   (doc_id % 4)::BIGINT AS n_links,
                   CASE doc_id % 4
                     WHEN 0 THEN ''
                     WHEN 1 THEN
                       'https://t.example/l/' || doc_id || '-0'
                     WHEN 2 THEN
                       'https://t.example/l/' || doc_id || '-0,'
                       || 'https://t.example/l/' || doc_id || '-1'
                     ELSE
                       'https://t.example/l/' || doc_id || '-0,'
                       || 'https://t.example/l/' || doc_id || '-1,'
                       || 'https://t.example/l/' || doc_id || '-2'
                   END AS links_csv
            FROM documents WHERE doc_id < 400
        """,
        "pii_scrub": _pii_scrub_oracle_sql(),
        "chunk_text": """
            WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 300),
            c AS (
              SELECT doc_id, w,
                     1 + CAST(ceil(greatest(0, len(w) - 10)
                                   / 7.0) AS INTEGER) AS n_chunks
              FROM d)
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_id,
                   array_to_string(
                     list_slice(w, i * 7 + 1, i * 7 + 10), ' ')
                     AS chunk,
                   CAST(len(string_split(array_to_string(
                     list_slice(w, i * 7 + 1, i * 7 + 10), ' '), ' '))
                     AS INTEGER) AS n_chunk_words
            FROM c, UNNEST(range(c.n_chunks)) AS t(i)
        """,
        "boilerplate_strip": """
            SELECT 'chrome://' || CAST(doc_id AS VARCHAR) AS url,
                   text AS content
            FROM documents WHERE doc_id < 250
        """,
        "charset_extract": """
            SELECT 'cp1252://' || CAST(doc_id AS VARCHAR) AS url,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'caf' || chr(233) || ' ' || text
                        ELSE 'it' || chr(8217) || 's ' || text
                   END AS extracted
            FROM documents WHERE doc_id < 300
        """,
        "rewrite_drop_links": f"""
            WITH pages AS ({_PAGES_CTE})
            SELECT url,
                   title_text || doc_text ||
                   CASE WHEN has_term THEN term_word ELSE '' END ||
                   {_LI_TEXT} AS extracted
            FROM pages
        """,
        "simhash": """
            WITH words AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
            hashes AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
              FROM words),
            bitvotes AS (
              SELECT doc_id, b.bit,
                     SUM(CASE WHEN (h >> b.bit) & 1 = 1
                         THEN 1 ELSE -1 END) AS vote
              FROM hashes
              CROSS JOIN (SELECT unnest(range(64)) AS bit) b
              GROUP BY doc_id, b.bit),
            raw AS (
              SELECT doc_id,
                     SUM(CASE WHEN vote > 0
                         THEN (1::HUGEINT << bit)
                         ELSE 0::HUGEINT END) AS u
              FROM bitvotes GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                             THEN u - 18446744073709551616::HUGEINT
                             ELSE u END AS BIGINT) AS simhash
            FROM raw
        """,
        "minhash_wide": _minhash_oracle_sql(16),
        "pagerank_exact": _graphrank_oracle()[0],
        "anchor_stats": _graphrank_oracle()[1],
        "lm_fluency": _lm_fluency_oracle(),
        "url_traps": _url_traps_oracle(),
        "span_dedup": _span_dedup_oracle(),
        "host_authority": _host_authority_oracle(),
        "train_sample": _train_sample_oracle(),
        "decontaminate": _decontaminate_oracle(),
        "nfc_normalize": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' cafe' || chr(769)
                               || ' A' || chr(778)
                          ELSE text END AS text
              FROM documents)
            SELECT doc_id,
                   nfc_normalize(text) AS normalized,
                   nfc_normalize(text) <> text AS was_denormalized
            FROM d
        """,
        "ingest_dedup": """
            WITH inc AS (
              SELECT doc_id + 10000 AS doc_id, text
              FROM documents WHERE doc_id % 40 = 0
              UNION ALL
              SELECT doc_id + 20000, text || ' x'
              FROM documents WHERE doc_id % 25 = 0
              UNION ALL
              SELECT doc_id + 30000,
                     'fresh unseen doc ' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id % 30 = 0),
            all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM inc),
            words AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM all_docs),
            hashes AS (
              SELECT doc_id,
                     ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
              FROM words),
            bitvotes AS (
              SELECT doc_id, b.bit,
                     SUM(CASE WHEN (h >> b.bit) & 1 = 1
                         THEN 1 ELSE -1 END) AS vote
              FROM hashes
              CROSS JOIN (SELECT unnest(range(64)) AS bit) b
              GROUP BY doc_id, b.bit),
            sig AS (
              SELECT doc_id,
                     SUM(CASE WHEN vote > 0
                         THEN (1::HUGEINT << bit)
                         ELSE 0::HUGEINT END)::UBIGINT AS u
              FROM bitvotes GROUP BY doc_id),
            exact AS (
              SELECT DISTINCT i.doc_id FROM inc i
              WHERE md5(i.text) IN
                    (SELECT md5(text) FROM documents)),
            near AS (
              SELECT DISTINCT si.doc_id
              FROM sig si JOIN sig se
                ON si.doc_id >= 10000 AND se.doc_id < 10000
               AND bit_count(xor(si.u, se.u)) <= 3)
            SELECT i.doc_id,
                   i.doc_id IN (SELECT doc_id FROM exact)
                     AS exact_dup,
                   i.doc_id IN (SELECT doc_id FROM near)
                     AS near_dup,
                   NOT (i.doc_id IN (SELECT doc_id FROM exact)
                        OR i.doc_id IN (SELECT doc_id FROM near))
                     AS keep
            FROM inc i
        """,
        "link_hygiene": """
            SELECT 'https://h' || (doc_id % 10) || '.example/doc/'
                     || doc_id AS url,
                   (doc_id % 6 = 0 OR doc_id % 6 = 2) AS noindex,
                   (doc_id % 6 = 1 OR doc_id % 6 = 2)
                     AS nofollow_meta,
                   (doc_id % 3)::BIGINT AS n_links,
                   (CASE doc_id % 3 WHEN 0 THEN 0
                        WHEN 1 THEN doc_id % 2 ELSE 1 END)::BIGINT
                     AS n_followable
            FROM documents
        """,
        "lsh_pairs_web08": _lsh_web08_oracle_sql(),
        "robots_decisions": """
            WITH u AS (
              SELECT doc_id, doc_id % 24 AS h, doc_id % 8 AS c,
                     CASE doc_id % 8
                       WHEN 0 THEN '/doc/' || CAST(doc_id % 10 AS VARCHAR)
                       WHEN 1 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
                       WHEN 2 THEN '/private/pub' || CAST(doc_id AS VARCHAR)
                       WHEN 3 THEN '/file' || CAST(doc_id AS VARCHAR) || '.tmp'
                       WHEN 4 THEN '/tie/a'
                       WHEN 5 THEN '/doc/x' || CAST(doc_id AS VARCHAR)
                       WHEN 6 THEN '/private/pub'
                       ELSE '/free/' || CAST(doc_id AS VARCHAR)
                     END AS path
              FROM documents)
            SELECT doc_id,
                   'https://host' || CAST(h AS VARCHAR) || '.example'
                     || path AS url,
                   CASE WHEN h % 3 <> 0 THEN
                     -- cuphicbot group: longest match
                     CASE WHEN c IN (2, 6) THEN TRUE        -- /private/pub*
                          WHEN c = 1 THEN FALSE             -- /private/
                          WHEN c = 3 AND h % 4 = 0
                            THEN FALSE                      -- /*.tmp$
                          ELSE TRUE END
                   ELSE
                     -- * group: /doc/<h%7> beats /doc/; tie -> Allow
                     CASE WHEN c = 0 AND doc_id % 10 = h % 7 THEN FALSE
                          ELSE TRUE END
                   END AS allowed,
                   CASE WHEN h % 3 <> 0 THEN
                     -- delay from the GROUP THAT DECIDED (cuphicbot):
                     -- h%5==2 hosts have none -> NULL, never the *
                     -- group's 9 (RFC 9309 group selection)
                     CASE WHEN h % 5 = 2 THEN NULL
                          ELSE CAST(1 + h % 5 AS DOUBLE) END
                   ELSE 9.0 END AS crawl_delay
            FROM u
        """,
        "sitemap_extract": """
            SELECT 'host' || CAST(doc_id % 12 AS VARCHAR) || '.example'
                     AS host,
                   CASE WHEN (doc_id % 12) % 5 = 0 THEN 'sitemap'
                        ELSE 'url' END AS kind,
                   CASE WHEN (doc_id % 12) % 5 = 0
                        THEN 'https://host' || CAST(doc_id % 12 AS VARCHAR)
                             || '.example/sitemaps/'
                             || CAST(doc_id AS VARCHAR) || '.xml'
                        ELSE 'https://host' || CAST(doc_id % 12 AS VARCHAR)
                             || '.example/doc/' || CAST(doc_id AS VARCHAR)
                   END AS loc,
                   CASE WHEN (doc_id % 12) % 5 <> 0 AND doc_id % 3 <> 0
                        THEN '2026-01-' || CAST(10 + doc_id % 19 AS VARCHAR)
                        ELSE NULL END AS lastmod,
                   CASE WHEN (doc_id % 12) % 5 <> 0 AND doc_id % 4 = 0
                        THEN CAST(doc_id % 10 AS DOUBLE) / 10.0
                        ELSE NULL END AS priority
            FROM documents
        """,
        "rescore_frontier": """
            SELECT 'https://host' || (doc_id % 10) || '.example/doc/'
                     || doc_id AS url,
                   CAST(20000 - (10000 + doc_id % 7) AS BIGINT)
                     AS score,
                   0 AS depth
            FROM documents
        """,
        "rescore_authority": _rescore_authority_oracle(),
        "crawl_fetch_log": _fetch_log_values_sql(_CRAWL_GATE_KW),
        "crawl_robots_full": _crawl_robots_full_oracle_sql(),
        "tei_scrape_kernel": _tei_scrape_oracle_sql(),
    }


def _crawl_oracle_module():
    """Import the single-process crawl oracle robustly: the driver
    may call oracle_sql() with any cwd, so fall back to putting the
    repo root (this file's directory) on sys.path."""
    try:
        from tests.oracle import crawl_oracle
    except ImportError:
        import os as _os
        import sys as _sys

        _sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
        from tests.oracle import crawl_oracle
    return crawl_oracle


def _fetch_log_values_sql(kw: dict, robots_deny_fn=None) -> str:
    """Expected fetch log as an inline VALUES table: the iterative
    crawl is not SQL-expressible, but its OUTPUT is a deterministic
    pure function of the config — the python oracle (independent
    canonicalization / robots / frontier model) re-derives the rows
    driver-side in milliseconds at gate scale, and DuckDB hash-pins
    them (round-6 verdict #4)."""
    co = _crawl_oracle_module()
    st = co.run(**kw, robots_deny_fn=robots_deny_fn)
    rows = ",\n            ".join(
        f"({e['wave']}, {e['rank_in_wave']}, '{e['url']}', "
        f"{e['depth']}, {e['score']}, {e['bytes']})"
        for e in st.fetch_log)
    return f"""
        SELECT wave, rank_in_wave, url, depth, score, bytes
        FROM (VALUES
            {rows}
        ) AS t(wave, rank_in_wave, url, depth, score, bytes)
    """


def _crawl_robots_full_oracle_sql() -> str:
    """crawl_robots_full twin: deny verdicts from the pure-Python
    RFC 9309 evaluator (robots.agent_group/path_allowed) over the
    same wildcard corpus, fed into the python crawl oracle. The
    matcher semantics themselves are independently pinned by the
    robots_decisions gate (closed-form DuckDB CASE) and the
    pattern-semantics pytest table; this gate pins their WAVE-LOOP
    integration."""
    import re as _re

    from cuphic_spark.frontier.robots import (
        agent_group,
        parse_robots_text,
        path_allowed,
    )

    co = _crawl_oracle_module()
    groups = {h: agent_group(
        parse_robots_text(_wildcard_robots_body(h)), "cuphicbot")
        for h in range(10)}

    def deny(url, version):
        h = int(_re.match(r"https://host(\d+)\.", url).group(1))
        return not path_allowed(groups[h], co.path_of_url(url))

    return _fetch_log_values_sql(_ROBOTS_FULL_KW, robots_deny_fn=deny)


def _ann_ivf_indexed_oracle_sql(k: int = 5, n_probe: int = 2) -> str:
    """Independent numpy twin of the persisted-IVF path: Lloyd's
    k-means per the documented spec, 2-nearest-centroid probe
    (distance then cell-id order), candidate set = union of probed
    cells, exact cosine with the implementation's operation order
    (dot / (||a||*||b||), *1e6, truncate toward zero), tie-break
    (cos_micro desc, neighbor_id asc). Emits VALUES — exactness
    across both sides comes from the dyadic corpus."""
    import numpy as _np

    ids, corpus, qids, qvecs = _ivf_gate_corpus()
    # --- train: lowest-id init, argmin tie -> lowest, mean update,
    # empty cells keep their centroid, allclose break, 8 iters max
    cents = corpus[:4].copy()
    for _ in range(8):
        dist = -2.0 * (corpus @ cents.T) + (cents * cents).sum(1)[None]
        cell = dist.argmin(axis=1)
        new = cents.copy()
        for c in range(4):
            members = corpus[cell == c]
            if len(members):
                new[c] = members.sum(axis=0) / len(members)
        if _np.allclose(new, cents, atol=1e-12):
            break
        cents = new
    dist = -2.0 * (corpus @ cents.T) + (cents * cents).sum(1)[None]
    cell = dist.argmin(axis=1)

    rows = []
    for qi, qv in zip(qids, qvecs):
        qd = -2.0 * (cents @ qv) + (cents * cents).sum(1)
        order = _np.lexsort((_np.arange(len(cents)), qd))
        probed = set(order[:n_probe].tolist())
        cand = [(int(i), v) for i, v, c in zip(ids, corpus, cell)
                if int(c) in probed and int(i) != int(qi)]
        qn = _np.sqrt((qv * qv).sum())
        scored = []
        for i, v in cand:
            cos = (v * qv).sum() / (_np.sqrt((v * v).sum()) * qn)
            scored.append((int(cos * 1_000_000), i))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (micro, i) in enumerate(scored[:k], start=1):
            rows.append((int(qi), i, rank, micro))
    vals = ",\n            ".join(
        f"({q}, {n}, {r}, {m})" for q, n, r, m in rows)
    return f"""
        SELECT query_id, neighbor_id, rank, cos_micro
        FROM (VALUES
            {vals}
        ) AS t(query_id, neighbor_id, rank, cos_micro)
    """


def _tei_scrape_oracle_sql() -> str:
    """Independent ElementTree twin of the kernel TEI scrape counts
    (round-6 verdict #4: the last rows-only gate -> hashed). The
    kernel path is expat -> hiccup -> pattern matcher; this twin is
    ET.iter over the same 12 files with the pattern semantics
    restated closed-form: [tag ???] = every element;
    [:p {:xml/id ?id} ???] = every p (?attr is optional);
    [:persName {:ref ref :type ?type} full-name] = persName with a
    ref attr and EXACTLY one hiccup child (non-blank text segments
    merge, blanks drop); [:item (... c)] = item with >= 1 child."""
    import xml.etree.ElementTree as _ET

    from cuphic_spark.sources.tei import TEI_DIR

    def _local(tag):
        return tag.split("}")[-1]

    def _n_children(el):
        n = 1 if (el.text or "").strip() else 0
        for c in el:
            n += 1
            if (c.tail or "").strip():
                n += 1
        return n

    counts = {"all-tags": 0, "p": 0, "persName": 0, "items": 0}
    for path in sorted(TEI_DIR.glob("*.xml")):
        root = _ET.fromstring(path.read_bytes())
        for el in root.iter():
            counts["all-tags"] += 1
            t = _local(el.tag)
            if t == "p":
                counts["p"] += 1
            elif t == "persName":
                if (any(_local(k) == "ref" for k in el.attrib)
                        and _n_children(el) == 1):
                    counts["persName"] += 1
            elif t == "item" and _n_children(el) >= 1:
                counts["items"] += 1
    vals = ",\n            ".join(
        f"('{k}', {v})" for k, v in sorted(counts.items()))
    return f"""
        SELECT pattern_key, n_matches
        FROM (VALUES
            {vals}
        ) AS t(pattern_key, n_matches)
    """


def _pii_scrub_oracle_sql() -> str:
    """Oracle for pii_scrub, built from the SAME pattern list the
    operator applies (textstats.PII_PATTERNS) — single-sourced, so a
    pattern change cannot silently diverge the two sides."""
    from cuphic_spark.operators.textstats import PII_PATTERNS

    scrub = ("text || ' contact user' || CAST(doc_id AS VARCHAR)"
             " || '@example.com via 10.1.'"
             " || CAST(doc_id % 200 AS VARCHAR) || '.9 or +1 555-01'"
             " || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
             " || ' bye'")
    for pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{p}', '{repl}', 'g')"
    return f"""
        SELECT doc_id, {scrub} AS scrubbed, TRUE AS pii_found
        FROM documents WHERE doc_id < 300
    """


def _minhash_oracle_sql(n_hashes: int) -> str:
    """DuckDB twin of minhash_signature at any width: hash i = the
    8-hex-char slice (i mod 4)*8 of md5((i div 4) || ':' || shingle)
    — generated so wider gates (minhash_wide, 16 hashes / 4 seeds)
    pin the digest-slicing layout beyond a single digest."""
    cols = ",\n".join(
        "                   list_aggregate(list_transform(sh,\n"
        f"                     s -> substr(md5('{i // 4}:' || s), "
        f"{(i % 4) * 8 + 1}, 8)),\n"
        f"                                  'min') AS minhash_{i}"
        for i in range(n_hashes))
    return f"""
            SELECT doc_id,
{cols}
            FROM (SELECT doc_id,
                         list_transform(range(len(w) - 2),
                           i -> array_to_string(w[(i+1):(i+3)], ' ')) AS sh
                  FROM (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents)
                  WHERE len(w) >= 3)
        """


def _lsh_web08_oracle_sql(n_hashes: int = 128, band_size: int = 8,
                          k: int = 3) -> str:
    """DuckDB twin of q_lsh_pairs_web08: the planted-dup corpus, all
    ``n_hashes`` digest-slice minhashes, ``n_hashes/band_size`` band
    values, the band equi-join (doc_a < doc_b, distinct), and the
    exact shingle-Jaccard verify — generated, because 128 hash
    expressions written by hand would be its own bug farm."""
    mh = ",\n".join(
        "                 list_aggregate(list_transform(sh,\n"
        f"                   s -> substr(md5('{i // 4}:' || s), "
        f"{(i % 4) * 8 + 1}, 8)), 'min') AS mh_{i}"
        for i in range(n_hashes))
    bands = "\n              UNION ALL\n".join(
        f"              SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"mh_{j}" for j in range(b, b + band_size))
        + ") AS band_val FROM sig"
        for b in range(0, n_hashes, band_size))
    return f"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id < 300
                AND len(string_split(text, ' ')) >= 8),
            corpus AS (
              SELECT doc_id, text FROM base
              UNION ALL
              SELECT doc_id + 100000 AS doc_id,
                     array_to_string(
                       (string_split(text, ' '))
                         [1:len(string_split(text, ' ')) - 2],
                       ' ') AS text
              FROM base WHERE doc_id % 7 = 0),
            shing AS (
              SELECT doc_id,
                     list_transform(range(len(w) - {k - 1}),
                       i -> array_to_string(w[(i+1):(i+{k})], ' '))
                       AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM corpus)
              WHERE len(w) >= {k}),
            sig AS (
              SELECT doc_id,
{mh}
              FROM shing),
            banded AS (
{bands}
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a
              JOIN banded b ON a.band = b.band
                           AND a.band_val = b.band_val
                           AND a.doc_id < b.doc_id),
            shd AS (
              SELECT doc_id, list_distinct(sh) AS s FROM shing)
            SELECT p.doc_a, p.doc_b,
                   ((len(list_intersect(a.s, b.s)) * 1000)
                    // len(list_distinct(list_concat(a.s, b.s))))::INTEGER
                     AS jaccard_milli
            FROM pairs p
            JOIN shd a ON a.doc_id = p.doc_a
            JOIN shd b ON b.doc_id = p.doc_b
        """


def _ann_ivf_oracle_sql(bits: int = 4, k: int = 5) -> str:
    """DuckDB twin of ivf_topk: sign cells, Hamming-1 probe set,
    exact float cosine ordering (same float-multiply-then-double-sum
    shape as the Spark expressions; trunc() mirrors Spark's
    toward-zero long cast in the ordering key)."""
    def cell(col: str) -> str:
        return " + ".join(
            f"CAST({col}[{i + 1}] >= 0 AS INT) * {1 << (bits - 1 - i)}"
            for i in range(bits))

    probes = ", ".join([f"qcell"] + [f"xor(qcell, {1 << i})"
                                     for i in range(bits)])
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qe,
                 {cell('embedding')} AS qcell
          FROM embeddings WHERE vec_id < 3),
        probes AS (
          SELECT query_id, qe, unnest([{probes}]) AS cell FROM q),
        corpus AS (
          SELECT vec_id, embedding, {cell('embedding')} AS cell
          FROM embeddings),
        scored AS (
          SELECT p.query_id, c.vec_id AS neighbor_id,
                 CAST(trunc(
                   list_sum(list_transform(range(len(c.embedding)),
                     i -> CAST(c.embedding[i+1] * p.qe[i+1] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(range(len(c.embedding)),
                        i -> CAST(c.embedding[i+1] * c.embedding[i+1]
                                  AS DOUBLE))))
                      * sqrt(list_sum(list_transform(range(len(p.qe)),
                        i -> CAST(p.qe[i+1] * p.qe[i+1] AS DOUBLE)))))
                   * 1000000) AS BIGINT) AS cos_micro
          FROM corpus c JOIN probes p USING (cell)
          WHERE c.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_micro DESC, neighbor_id)
                   AS rk
          FROM scored)
        SELECT query_id, neighbor_id, rk::INTEGER AS rank
        FROM ranked WHERE rk <= {k}
    """


def _neardup_oracle_sql(n_bands: int = 4, band_bits: int = 8,
                        threshold_milli: int = 900) -> str:
    """DuckDB twin of embedding_neardup_pairs over the same
    dup-injected input: identical band buckets (sign pattern per dim
    slice), OR-of-bands candidates, exact cosine filter. Output is
    pair ids only — cosine values are float-derived and would be
    hash-fragile across engines; the threshold DECISION is robust
    because injected pairs sit at cos=1.0 and random 64-dim pairs sit
    far below 0.9."""
    band_exprs = []
    for band in range(n_bands):
        bits = " || ".join(
            f"CAST(CAST(embedding[{band * band_bits + i + 1}] >= 0 "
            "AS INT) AS VARCHAR)"
            for i in range(band_bits))
        band_exprs.append(f"({bits}) AS band_{band}")
    band_cond = " OR ".join(
        f"a.band_{b} = b.band_{b}" for b in range(n_bands))
    return f"""
        WITH base AS (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id < 250),
        allv AS (SELECT vec_id, embedding FROM base
                 UNION ALL
                 SELECT vec_id + 1000000 AS vec_id, embedding FROM base),
        sig AS (SELECT vec_id, embedding, {", ".join(band_exprs)}
                FROM allv)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sig a JOIN sig b
          ON a.vec_id < b.vec_id AND ({band_cond})
        WHERE list_cosine_similarity(a.embedding, b.embedding) * 1000
              >= {threshold_milli}
    """
