"""The three closed-loop workloads.

Each workload stages its seeded inputs (``stage``), runs one pass on a
fresh DataFrame (``run_pass`` -- its wall includes planning and codegen),
frees what the pass cached (``release``), checks a pass output against an
oracle that shares no code with the library (``check``), and splits a pass
into layer self-times from outside the library (``trace_pass``): each
layer's self-time is the difference between timed cumulative prefixes.

Only production defaults are called: no ``impl=``, no fused rollup, no
twin text extractors.
"""

from __future__ import annotations

import glob
import os
import pstats
import shutil
import time
from typing import Callable, Dict, List

import pyarrow.parquet as pq

import corpus
import oracles
from spans import SparkStats, Tracer

CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"  # chars that force the full clean_text chain


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn: Callable) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# pycore tokenizer entry points: their cumulative time is interpreter work
TOKENIZER_FUNCS = {("htmltok.py", "scan_html_cols"), ("pdftok.py", "tokenize_pdf")}


def profile_split(spark, out_dir: str) -> Dict[str, float]:
    """Task-summed seconds the UDF profiler saw inside the tokenizer UDF,
    split into the pycore tokenizers (interpreter) and everything else at
    the boundary: Arrow deserialization, to_pylist, column assembly."""
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.profile.dump(out_dir, type="perf")
    spark.profile.clear(type="perf")
    total = py = 0.0
    for path in glob.glob(os.path.join(out_dir, "*.pstats")):
        st = pstats.Stats(path)
        total += st.total_tt
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
            if (fname, func) in TOKENIZER_FUNCS:
                py += ct
    return {"py_s": py, "arrow_s": total - py}


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, scale: float, threads: int):
        self.root, self.work, self.seed = root, work, seed
        self.scale, self.threads = scale, threads
        self.key = corpus.generator_key(root, seed, self.name)
        self.input_dir = ""
        self.docs = 0
        self.input_bytes = 0
        self._expected = None

    def size(self, n: int) -> int:
        return max(10, int(n * self.scale))

    def stage(self, spark, dest: str) -> None:
        raise NotImplementedError

    def run_pass(self, spark, pass_id: str):
        raise NotImplementedError

    def release(self, spark) -> None:
        from image_ocr_spark.operators import dedup, similarity

        dedup.release_sig_caches()
        similarity.release_assign_caches()
        dedup.release_component_checkpoints(spark)
        spark.catalog.clearCache()

    def expected(self):
        if self._expected is None:
            self._expected = self.compute_expected()
        return self._expected

    def compute_expected(self):
        raise NotImplementedError

    def check(self, output) -> bool:
        raise NotImplementedError

    def trace_pass(self, spark, tracer: Tracer, stats: SparkStats, pass_id: str) -> Dict[str, float]:
        """One pass split into layer self-times; ``trace.self_sum_s`` is
        the sum of the self-times, i.e. the traced pass wall."""
        raise NotImplementedError

    def trace_extra(self, spark, tracer: Tracer) -> Dict[str, float]:
        """Layer metrics that need a dedicated (non-pass) job, taken once."""
        return {}


# ---------------------------------------------------------------------------
# page workloads (crawl_extract, docs_to_results)
# ---------------------------------------------------------------------------


class PageWorkload(Workload):
    replica_ids: tuple = ()
    n_sources = 0

    def stage(self, spark, dest: str) -> None:
        sources = corpus.pick_sources(self.seed, self.size(self.n_sources))
        self.rows = corpus.page_rows(sources, self.replica_ids)
        corpus.write_pages(self.rows, dest, num_files=self.threads)
        self.input_dir = dest
        self.docs = len(self.rows)
        self.input_bytes = sum(len(p["html"]) for p in self.rows)

    def pages(self, spark):
        return spark.read.parquet(self.input_dir)

    def extracted(self, pages):
        from image_ocr_spark.plans.pipeline import extract_pages

        return extract_pages(pages, num_partitions=2 * self.threads)

    def prefixes(self) -> List:
        """Cumulative pipeline prefixes, each ending in a noop sink."""
        from image_ocr_spark.functions.classify import classify_df
        from image_ocr_spark.operators.blocks import extract_text_packed
        from image_ocr_spark.operators.tokenize import tokenize_packed
        from image_ocr_spark.plans.pipeline import salt_repartition

        n = 2 * self.threads
        cols = lambda p: p.select("url", "html", "doc_id")  # noqa: E731 -- what extract_pages reads
        salt = lambda p: salt_repartition(cols(p), n)  # noqa: E731
        tok = lambda p: tokenize_packed(salt(p))  # noqa: E731
        blk = lambda p: extract_text_packed(tok(p))  # noqa: E731
        return [
            ("pipeline.scan_s", cols),
            ("pipeline.salt_s", salt),
            ("tokenize.s", tok),
            ("blocks.s", blk),
            ("classify.s", lambda p: classify_df(blk(p), "text")),
        ]

    def trace_pipeline(self, spark, tracer: Tracer, stats: SparkStats, pass_id: str) -> Dict:
        """Time the prefixes; return self-times plus salt-shuffle volume."""
        m: Dict[str, float] = {}
        prev = 0.0
        for name, build in self.prefixes():
            mark = stats.mark()
            with tracer.span(name, parent="traced", pass_id=pass_id) as sp:
                noop(build(self.pages(spark)))
            t = sp["end"] - sp["start"]
            m[name] = sp["self_s"] = t - prev  # the span covers the whole prefix
            prev = t
            if name == "pipeline.salt_s":
                m["pipeline.salt_shuffle_mb"] = stats.totals(stats.jobs_since(mark))["shuffle_write_mb"]
            self.release(spark)
        m["_prefix_s"] = prev
        return m

    def trace_extra(self, spark, tracer: Tracer) -> Dict[str, float]:
        """One profiled tokenize job that also counts nodes, fallback rows
        and rows that need the full clean_text chain."""
        from pyspark.sql import functions as F

        from image_ocr_spark.operators.tokenize import tokenize_packed
        from image_ocr_spark.plans.pipeline import salt_repartition

        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            packed = tokenize_packed(
                salt_repartition(self.pages(spark).select("url", "html", "doc_id"), 2 * self.threads)
            )
            row = packed.agg(
                F.sum(F.size(F.filter("nodes", lambda x: x["node_id"] >= 0))).alias("nodes"),
                F.count(F.when(~F.col("engine").isin("html", "pdf"), 1)).alias("fallback"),
                F.count(F.when(F.exists("nodes", lambda x: x["text"].rlike(CTRL_CLASS)), 1)).alias("dirty"),
            ).collect()[0]
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        split = profile_split(spark, os.path.join(self.work, "profile"))
        return {
            "tokenize.py_s": split["py_s"],
            "tokenize.arrow_s": split["arrow_s"],
            "tokenize.nodes": int(row["nodes"] or 0),
            "tokenize.fallback_rows": int(row["fallback"]),
            "blocks.dirty_rows": int(row["dirty"]),
        }

    num_buckets = 16

    def results(self, extracted):
        from image_ocr_spark.plans.results import assemble_results, to_json_rows

        return to_json_rows(assemble_results(extracted))

    def checkpoint_pass(self, spark, pass_id: str):
        """extract_pages -> assemble_results -> to_json_rows, written through
        a BucketedCheckpoint into a fresh root (a reused root has nothing
        pending and would write nothing)."""
        from image_ocr_spark.operators.checkpoint import BucketedCheckpoint

        root = os.path.join(self.work, "ckpt", pass_id)
        shutil.rmtree(root, ignore_errors=True)
        ck = BucketedCheckpoint(root, num_buckets=self.num_buckets)
        # the extraction is persisted once and read by assemble_results'
        # three branches (the library's own _extracted() pattern)
        ex = self.extracted(self.pages(spark)).persist()
        try:
            ck.run(self.results(ex), lambda df: df)
        finally:
            ex.unpersist()
        return ck

    def check_checkpoint(self, ck) -> bool:
        """All buckets committed and every url's JSON matches ground truth."""
        if len(ck.committed()) != self.num_buckets:
            return False
        js = {}
        # bucket dirs are named _bucket=N, which pyarrow's dataset discovery skips
        for path in glob.glob(os.path.join(ck.root, "data", "*", "*.parquet")):
            table = pq.read_table(path, columns=["url", "json"])
            js.update(zip(table.column("url").to_pylist(), table.column("json").to_pylist()))
        return not oracles.results_mismatches(self.rows, js)

    def trace_results(self, spark, tracer: Tracer, pass_id: str, prev: float):
        """(metrics, checkpoint-pass seconds): results and checkpoint
        self-times on top of the extraction prefix that took ``prev``."""
        from pyspark.sql import functions as F

        m: Dict[str, float] = {}
        ex = self.extracted(self.pages(spark)).persist()
        try:
            with tracer.span("results.s", parent="traced", pass_id=pass_id) as sp:
                res = self.results(ex)
                noop(res)
            m["results.plan_chars"] = len(res._jdf.queryExecution().optimizedPlan().toString())
            row = ex.agg(F.sum("n_nodes").alias("n"), F.sum("n_content_nodes").alias("c")).collect()[0]
            m["blocks.content_frac"] = row["c"] / max(1, row["n"])
        finally:
            ex.unpersist()
        t_res = sp["end"] - sp["start"]
        m["results.s"] = t_res - prev
        with tracer.span("checkpoint.s", parent="traced", pass_id=pass_id) as sp:
            ck = self.checkpoint_pass(spark, pass_id)
        t_ck = sp["end"] - sp["start"]
        metrics = ck.metrics()
        # the manifests' wall covers plan + write job; the rest is the
        # per-batch stats scan and the manifest commits
        m["checkpoint.commit_s"] = t_ck - metrics["wall_s"]
        m["checkpoint.write_s"] = (t_ck - t_res) - m["checkpoint.commit_s"]
        m["checkpoint.out_mb"] = metrics["output_bytes"] / 1e6
        m["checkpoint.buckets"] = len(ck.committed())
        self.release(spark)
        return m, t_ck


class CrawlExtract(PageWorkload):
    """The flagship: extract_pages (salted) over the natural kind mix, with
    30% of urls on one hot host, into a count / chars / text-hash sink."""

    name = "crawl_extract"
    replica_ids = tuple(range(corpus.REPLICAS))
    n_sources = 700

    def sink(self, extracted):
        """One aggregate over every output column, so column pruning
        cannot drop any layer: the checked digest first, then totals that
        keep title, node counts and classifier scores computed."""
        from pyspark.sql import functions as F

        h = F.conv(
            F.substring(F.md5(F.concat_ws("\u0001", "url", "text")), 1, oracles.HASH_HEX), 16, 10
        ).cast("long")
        return extracted.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("text")).alias("chars"),
            F.sum(h).alias("hash"),
            F.count(F.when(F.col("doc_type") == "receipt", 1)).alias("receipts"),
            F.count(F.when(F.col("doc_type") == "invoice", 1)).alias("invoices"),
            F.sum(F.coalesce(F.length("title"), F.lit(0))).alias("title_chars"),
            F.sum("n_nodes").alias("nodes"),
            F.sum("n_content_nodes").alias("content_nodes"),
            F.sum(F.col("receipt_score_centi") + F.col("invoice_score_centi")).alias("scores"),
            F.count_distinct("engine").alias("engines"),
        ).collect()[0]

    def run_pass(self, spark, pass_id: str):
        return tuple(self.sink(self.extracted(self.pages(spark))))[:6]

    def compute_expected(self):
        return oracles.crawl_digest(self.rows)

    def check(self, output) -> bool:
        return tuple(output) == self.expected()

    def trace_pass(self, spark, tracer, stats, pass_id) -> Dict[str, float]:
        """Pipeline prefixes, then the aggregate sink (the full pass)."""
        m = self.trace_pipeline(spark, tracer, stats, pass_id)
        prev = m.pop("_prefix_s")
        mark = stats.mark()
        with tracer.span("pipeline.sink_s", parent="traced", pass_id=pass_id) as sp:
            self.sink(self.extracted(self.pages(spark)))
        m["pipeline.task_skew"] = stats.task_skew(stats.jobs_since(mark))
        m["trace.self_sum_s"] = sp["end"] - sp["start"]
        m["pipeline.sink_s"] = sp["self_s"] = m["trace.self_sum_s"] - prev
        return m

    def trace_extra(self, spark, tracer) -> Dict[str, float]:
        """Tokenizer profile, plus the results and checkpoint layers over
        this corpus (their plan compiled once untimed first)."""
        m = super().trace_extra(spark, tracer)
        ex = self.extracted(self.pages(spark)).persist()
        try:
            noop(self.results(ex))
        finally:
            ex.unpersist()
        prev = timed(lambda: noop(self.extracted(self.pages(spark))))  # the prefix results builds on
        m.update(self.trace_results(spark, tracer, "extra", prev)[0])
        return m


class DocsToResults(PageWorkload):
    """The write path: receipt, invoice and PDF pages through results
    assembly and the checkpoint writer; plan compile is a large share of
    a pass at this size."""

    name = "docs_to_results"
    replica_ids = (6, 7, 8)
    n_sources = 300

    def run_pass(self, spark, pass_id: str):
        return self.checkpoint_pass(spark, pass_id)

    def check(self, ck) -> bool:
        return self.check_checkpoint(ck)

    def trace_pass(self, spark, tracer, stats, pass_id) -> Dict[str, float]:
        """Pipeline prefixes, then results, then the checkpoint (the pass)."""
        m = self.trace_pipeline(spark, tracer, stats, pass_id)
        mark = stats.mark()
        res, m["trace.self_sum_s"] = self.trace_results(spark, tracer, pass_id, m.pop("_prefix_s"))
        m.update(res)
        m["pipeline.task_skew"] = stats.task_skew(stats.jobs_since(mark))
        return m


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------


class NearDup(Workload):
    """Pair joins: MinHash-LSH, n-gram Jaccard, SimHash and embedding
    near-dups over text with a 30% boilerplate-template slice; shuffle,
    join and skew do the work and the tokenizer is bypassed."""

    name = "near_dup"
    n_docs = 1000
    n_emb = 1000
    max_bucket = 64

    def stage(self, spark, dest: str) -> None:
        from image_ocr_spark.operators.dedup import with_variants

        self.raw = corpus.near_dup_docs(self.seed, self.size(self.n_docs))
        corpus.write_docs(self.raw, os.path.join(dest, "documents"))
        self.vecs = corpus.embeddings(self.seed, self.size(self.n_emb))
        corpus.write_embeddings(self.vecs, os.path.join(dest, "embeddings"))
        docs = spark.read.parquet(os.path.join(dest, "documents"))
        with_variants(docs).write.mode("overwrite").parquet(os.path.join(dest, "enriched"))
        self.input_dir = dest
        self.docs = 2 * len(self.raw)
        self.input_bytes = 2 * sum(len(r["text"].encode("utf-8")) for r in self.raw)

    def docs_df(self, spark):
        return spark.read.parquet(os.path.join(self.input_dir, "enriched"))

    def emb_df(self, spark):
        return spark.read.parquet(os.path.join(self.input_dir, "embeddings"))

    @staticmethod
    def digest(pairs, score: str = None):
        from pyspark.sql import functions as F

        s = F.col(score) if score else F.lit(0)
        row = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod("id_a", F.lit(1000003)) * 7919 + F.pmod("id_b", F.lit(1000003)) * 31 + s).alias("s"),
        ).collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def ops(self) -> List:
        from image_ocr_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash_hamming_pairs,
        )
        from image_ocr_spark.operators.similarity import embedding_dup_pairs

        def emb(spark):
            rows = embedding_dup_pairs(self.emb_df(spark)).select("id_a", "id_b").collect()
            return frozenset((r["id_a"], r["id_b"]) for r in rows)

        return [
            ("dedup.minhash", lambda s: self.digest(minhash_lsh_pairs(self.docs_df(s), max_bucket=self.max_bucket))),
            ("dedup.ngram", lambda s: self.digest(ngram_jaccard_pairs(self.docs_df(s)), "jaccard_milli")),
            ("dedup.simhash", lambda s: self.digest(simhash_hamming_pairs(self.docs_df(s)), "hamming")),
            ("similarity.emb_dup", emb),
        ]

    def run_pass(self, spark, pass_id: str):
        return tuple(op(spark) for _name, op in self.ops())

    def compute_expected(self):
        texts = corpus.with_variants_py(self.raw)
        mh = oracles.pair_digest((a, b, 0) for a, b in oracles.minhash_lsh_pairs(texts, self.max_bucket))
        ng = oracles.pair_digest((a, b, s) for (a, b), s in oracles.ngram_jaccard_pairs(texts).items())
        sh = oracles.pair_digest((a, b, s) for (a, b), s in oracles.simhash_pairs(texts).items())
        return mh, ng, sh

    def check(self, output) -> bool:
        mh, ng, sh, emb = output
        return (mh, ng, sh) == self.expected() and not oracles.embedding_pair_errors(self.vecs, set(emb))

    def trace_pass(self, spark, tracer, stats, pass_id) -> Dict[str, float]:
        """The four operators of a pass, each its own span."""
        m: Dict[str, float] = {}
        dedup_jobs: List = []
        out = []
        for name, op in self.ops():
            mark = stats.mark()
            with tracer.span(name + "_s", parent="traced", pass_id=pass_id) as sp:
                out.append(op(spark))
            m[name + "_s"] = sp["end"] - sp["start"]
            if name.startswith("dedup."):
                dedup_jobs += stats.jobs_since(mark)
            self.release(spark)
        m["trace.self_sum_s"] = sum(m.values())
        m["dedup.pairs"] = sum(o[0] for o in out[:3])
        m["similarity.pairs"] = len(out[3])
        m["dedup.shuffle_mb"] = stats.totals(dedup_jobs)["shuffle_write_mb"]
        m["dedup.task_skew"] = stats.task_skew(dedup_jobs)
        return m


WORKLOADS = {w.name: w for w in (CrawlExtract, DocsToResults, NearDup)}
