"""The `extract` workload: the per-row Hiccup kernel behind the Arrow
boundary, with zero crawl-frontier work.

Inputs are generated here, never read from a shared data directory:
a ``documents`` table (fixed content, so every seed runs the same
pages) is expanded by ``synth_pages`` into closed-form pages, and the
seed permutes which pages land in which of the input files and in what
order. Every op's output is checked against a closed form computed
from the page ids, or against the previous pass.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cuphic_spark.compiler import compile_pattern, match_nodes
from cuphic_spark.operators.dedup import minhash_signature
from cuphic_spark.operators.parse import (
    pages_extract_text,
    pages_to_nodes,
    scrape_pages,
)
from cuphic_spark.operators.rewrite import rewrite_pages
from cuphic_spark.operators.similarity import inner_product_topk_quantized
from cuphic_spark.sources.pagegen import synth_pages

# bench.py's four patterns, so its section history stays comparable
PATTERNS = {
    "links": "[:a {:href href} ???]",
    "term": "[:term {:type term/type} term/name]",
    "p_id": "[:p {:id ?id} ???]",
    "title": "[:title {:id title/id} title/text]",
}
REWRITE_STAGES = [[("[:b {} x]", "[:strong {} x]")]]

N_DOCS = 400           # documents rows (page ids are doc_id * COPIES + copy)
COPIES = 20            # synth_pages copies per document
N_FILES = 8            # input files, two per core; the seed permutes membership
N_VECS = 2000          # embeddings rows
DIM = 64
N_QUERIES = 8
TOP_K = 10
_CONTENT_SEED = 20240101  # document/embedding content, independent of --seed
_WORDS = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table stream "
          "merge data a join page link text node tree crawl wave seen").split()


def _one_task_per_file(spark) -> None:
    """Read each input file as its own scan task: Spark would otherwise
    pack the small files into about one partition per core, by size,
    and the seed's layout would decide the straggler."""
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))


def _fingerprint(df, *cols):
    """(rows, order-independent sum of xxhash64 over cols). The hash is
    shifted right so the sum cannot overflow a long under ANSI mode."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.shiftright(F.xxhash64(*cols), 24)).alias("h")
               ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def write_documents(path: str) -> None:
    rng = random.Random(_CONTENT_SEED)
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 60)))
             for _ in range(N_DOCS)]
    langs = [("en", "de", "fr", "es", "zh")[i % 5] for i in range(N_DOCS)]
    pq.write_table(pa.table({"doc_id": pa.array(range(N_DOCS), pa.int64()),
                             "text": texts, "lang": langs}), path)


def make_embeddings() -> np.ndarray:
    """Components are odd multiples of 1/4096: exact in float32, and
    x * 10000 is never a rounding tie, so Spark's half-up quantization
    and numpy's agree exactly."""
    rs = np.random.RandomState(_CONTENT_SEED)
    k = rs.randint(-1024, 1024, size=(N_VECS, DIM)) * 2 + 1
    return (k / 4096.0).astype(np.float32)


def expected_topk(vecs: np.ndarray) -> list[tuple[int, int, int, int]]:
    """(query_id, neighbor_id, rank, dot_q) by the operator's contract:
    integer inner product of round(x * 10000), self excluded, ties by
    ascending neighbor id."""
    q = np.round(vecs.astype(np.float64) * 10000).astype(np.int64)
    out = []
    for qid in range(N_QUERIES):
        dots = q @ q[qid]
        ids = np.array([i for i in range(N_VECS) if i != qid])
        d = dots[ids]
        order = np.lexsort((ids, -d))[:TOP_K]
        out += [(qid, int(ids[j]), r + 1, int(d[j]))
                for r, j in enumerate(order)]
    return sorted(out)


def expected_pattern_counts() -> dict[str, int]:
    """Match counts per pattern from the pagegen closed form."""
    uids = range(N_DOCS * COPIES)
    return {"links": sum(u % 5 for u in uids),
            "term": sum(1 for u in uids if u % 3 == 0),
            "p_id": len(uids), "title": len(uids)}


class ExtractWorkload:
    name = "extract"
    setup_reps = 2
    seed_effect = "permutes the page-to-file layout and row order"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.n_pages = N_DOCS * COPIES
        self.inputs = os.path.join(work, "inputs")
        self.pages_dir = os.path.join(work, "pages")
        self.nodes_dir = os.path.join(work, "nodes")
        self.emb_path = os.path.join(work, "inputs", "embeddings.parquet")
        self.counts = expected_pattern_counts()
        self.n_bold = sum(1 for u in range(self.n_pages) if u % 4 == 0)
        vecs = make_embeddings()
        self.vecs = vecs
        self.topk = expected_topk(vecs)
        self.stable: dict[str, object] = {}   # first-seen fingerprints

    # -- set-up ---------------------------------------------------------
    def setup(self, spark, timer) -> None:
        _one_task_per_file(spark)
        os.makedirs(self.inputs, exist_ok=True)
        with timer("sources.pagegen.materialize_s"):
            write_documents(os.path.join(self.inputs, "documents.parquet"))
            pq.write_table(pa.table({
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(list(self.vecs),
                                      pa.list_(pa.float32()))}),
                self.emb_path)
            key = F.xxhash64(F.col("uid"), F.lit(self.seed))
            (synth_pages(spark, self.inputs, COPIES)
             .withColumn("_k", key)
             .repartitionByRange(N_FILES, "_k")
             .sortWithinPartitions("_k").drop("_k")
             .write.mode("overwrite").parquet(self.pages_dir))
            pages = spark.read.parquet(self.pages_dir)
            # fingerprint of the generator's closed-form text column:
            # computed once here, so the timed op needs no join
            self.text_fp = _fingerprint(pages, "url", "text")
        with timer("operators.parse.pages_to_nodes_s"):
            pages_to_nodes(pages).write.mode("overwrite").parquet(
                self.nodes_dir)
        if self.text_fp[0] != self.n_pages:
            raise RuntimeError(f"pagegen wrote {self.text_fp[0]} pages, "
                               f"expected {self.n_pages}")

    def attach(self, spark) -> None:
        """Bind the on-disk inputs to ``spark`` (cheap; no job)."""
        _one_task_per_file(spark)
        self.pages = spark.read.parquet(self.pages_dir)
        self.nodes = spark.read.parquet(self.nodes_dir)
        self.compiled = [compile_pattern(k, v) for k, v in PATTERNS.items()]
        emb = spark.read.parquet(self.emb_path)
        self.emb = emb
        self.queries = (emb.where(F.col("vec_id") < N_QUERIES)
                        .select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("q_embedding")))
        self.page_docs = self.pages.select(
            F.xxhash64("url").alias("doc_id"), "text")

    # -- ops: each returns (items processed, failure message or None) ---
    def _stable(self, key, value) -> str | None:
        first = self.stable.setdefault(key, value)
        return None if first == value else f"{key} {value} != first {first}"

    def op_extract_text(self):
        fp = _fingerprint(pages_extract_text(self.pages), "url", "text")
        bad = None if fp == self.text_fp else f"text fp {fp} != {self.text_fp}"
        return fp[0], bad

    def _check_counts(self, rows) -> str | None:
        got = {r["pattern_key"]: int(r["count"]) for r in rows}
        return None if got == self.counts else f"counts {got} != {self.counts}"

    def op_scrape_kernel(self):
        rows = (scrape_pages(self.pages, PATTERNS)
                .groupBy("pattern_key").count().collect())
        return self.n_pages, self._check_counts(rows)

    def op_scrape_relational(self):
        rows = (match_nodes(self.nodes, self.compiled)
                .groupBy("pattern_key").count().collect())
        return sum(int(r["count"]) for r in rows), self._check_counts(rows)

    def op_rewrite(self):
        out = rewrite_pages(self.pages, REWRITE_STAGES)
        r = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.shiftright(F.xxhash64("url", "rewritten"), 24)).alias("h"),
            F.sum(F.col("rewritten").contains(":strong").cast("int"))
            .alias("strong")).collect()[0]
        n, strong = int(r["n"]), int(r["strong"] or 0)
        if n != self.n_pages or strong != self.n_bold:
            return n, (f"rewrite rows {n}/{self.n_pages}, "
                       f"strong {strong}/{self.n_bold}")
        return n, self._stable("rewrite", int(r["h"]))

    def op_minhash(self):
        sig = minhash_signature(self.page_docs, k=3, n_hashes=4)
        fp = _fingerprint(sig, "doc_id", *[f"minhash_{i}" for i in range(4)])
        if fp[0] != self.n_pages:
            return fp[0], f"minhash rows {fp[0]} != {self.n_pages}"
        return fp[0], self._stable("minhash", fp)

    def op_ann_topk(self):
        rows = inner_product_topk_quantized(self.emb, self.queries,
                                            k=TOP_K).collect()
        got = sorted((r["query_id"], r["neighbor_id"], r["rank"], r["dot_q"])
                     for r in rows)
        return len(got), (None if got == self.topk
                          else f"ann top-{TOP_K} differs from numpy")

    def ops(self):
        """(name, prepare, run) in pass order; prepare is untimed."""
        return [("extract_text", None, self.op_extract_text),
                ("scrape_kernel", None, self.op_scrape_kernel),
                ("scrape_relational", None, self.op_scrape_relational),
                ("rewrite", None, self.op_rewrite),
                ("minhash", None, self.op_minhash),
                ("ann_topk", None, self.op_ann_topk)]
