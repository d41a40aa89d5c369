"""``llm`` workload: the corpus pipeline and vector search.

Set-up reads the seeded JSONL corpus (``read_jsonl`` + ``split_corrupt``)
and trains a BPE vocabulary on it (``bpe_train``). The timed loop then
repeats a fixed round of operations:

- ``curate``: JSONL -> ``split_corrupt`` -> ``curate(dedup="minhash",
  audit=True)`` against an eval slice; every doc must land in exactly one
  kept or drop-reason row, planted copies dropped;
- ``pack``: ``tokenize_and_pack`` of the kept corpus with the trained
  vocabulary; no bin may exceed the budget and every kept doc lands once;
- ``search``: one brute-force query batch through ``cosine_topk_arrow`` over
  a seeded embedding table; ids must equal a NumPy top-k.

A traced run also calls ``minhash_dedup`` and ``minhash_lsh_candidates``
directly on the filtered corpus once, to count candidate and verified pairs,
and builds an IVF index (``IvfIndex.build``) to probe every query batch with
``IvfIndex.topk`` and score its recall against the brute-force ids.
"""

from __future__ import annotations

import os
import statistics
import time

import gen

N_DOCS = 600
SCHEMA = "doc_id long, text string, source string"
BPE_MERGES = 4
BUDGET = 1024
SHARDS = 4
N_VECS = 4000
DIM = 32
N_QUERIES = 16
N_BATCHES = 2
K = 10
N_LIST = 16
NPROBE = 4


class LlmWorkload:
    SETUP_REPS = 2
    ROUND = ("search", "curate", "search", "pack", "search", "pack", "search")
    ROUND_S = 13.0  # nominal seconds of one round on 4 cores

    def __init__(self, bench):
        self.b = bench
        self.curate_rate: list = []
        self.batch_no = 0

    def generate(self) -> None:
        import numpy as np

        b = self.b
        os.makedirs(b.path("in"), exist_ok=True)
        self.corpus = gen.write_corpus(b.seed, b.path("in", "corpus.jsonl"), n_docs=N_DOCS)
        self.vecs, self.queries = gen.write_embeddings(
            b.seed, b.path("in", "emb.parquet"), n=N_VECS, dim=DIM,
            n_queries=N_QUERIES, batches=N_BATCHES,
        )
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        self.truth = []
        for q in self.queries:
            scores = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ unit.T
            self.truth.append([list(np.argsort(-row, kind="stable")[:K]) for row in scores])

    def setup(self, rep: int) -> None:
        from mortar_parquet_support_spark.operators.bpe import bpe_train
        from mortar_parquet_support_spark.sources.corpus import read_jsonl, split_corrupt

        b, t = self.b, self.b.tracer
        with t.span("corpus.quarantine") as s:
            good, bad = split_corrupt(read_jsonl(b.spark, self.corpus.path, schema=SCHEMA))
            n_bad = bad.count()
        t.add("corpus.quarantine_s", s["s"])
        t.add("corpus.quarantined", n_bad)
        b.check(n_bad == self.corpus.quarantined, f"{n_bad} lines quarantined")
        with t.span("bpe.train") as s:
            self.merges = bpe_train(good, num_merges=BPE_MERGES)
        t.add("bpe.train_s", s["s"])
        t.add("bpe.jobs", s["jobs"])
        self.emb = b.spark.read.parquet(b.path("in", "emb.parquet"))
        self.eval_df = b.spark.createDataFrame([(x,) for x in self.corpus.eval_texts], "text string")
        kept = sorted(i for i, r in self.corpus.expected.items() if r is None)
        self.kept_df = b.spark.createDataFrame(
            [(i, self.corpus.texts[i]) for i in kept], "doc_id long, text string"
        )
        # query ids sit after the corpus ids: a shared id would be dropped as
        # the query's own row (cosine_topk_arrow's include_self=False)
        self.query_dfs = [
            b.spark.createDataFrame(
                [(N_VECS + i, [float(x) for x in v]) for i, v in enumerate(q)],
                "vec_id long, embedding array<double>",
            )
            for q in self.queries
        ]

    # -- operations -----------------------------------------------------------
    def curate(self, timed: bool) -> bool:
        from mortar_parquet_support_spark.pipelines.curation import curate
        from mortar_parquet_support_spark.sources.corpus import read_jsonl, split_corrupt

        b, t = self.b, self.b.tracer
        t0 = time.perf_counter()
        with t.span("curate") as s:
            good, _ = split_corrupt(read_jsonl(b.spark, self.corpus.path, schema=SCHEMA))
            audited = curate(good, keep_languages=("en",), eval_df=self.eval_df,
                             dedup="minhash", audit=True)
            rows = audited.select("doc_id", "drop_reason").collect()
        dt = time.perf_counter() - t0
        got = {r.doc_id: r.drop_reason for r in rows}
        if timed:
            self.curate_rate.append(len(rows) / dt)
        if t.enabled:
            t.add("curate.s", s["s"])
            t.add("curate.jobs", s["jobs"])
            reasons = [r.drop_reason for r in rows]
            t.add("curate.kept_share", reasons.count(None) / len(rows))
            for why in ("language", "contaminated", "near_duplicate"):
                t.add(f"curate.drops.{why}", reasons.count(why))
        return len(rows) == len(got) and got == self.corpus.expected

    def pack(self) -> bool:
        from mortar_parquet_support_spark.pipelines.tokenize import tokenize_and_pack

        t = self.b.tracer
        with t.span("tokenize") as s:
            rows = tokenize_and_pack(
                self.kept_df, merges=self.merges, budget=BUDGET, shards=SHARDS
            ).collect()
        bins: dict = {}
        for r in rows:
            bins[(r.shard, r.bin)] = bins.get((r.shard, r.bin), 0) + r.n_tokens
        if t.enabled:
            t.add("tokenize.s", s["s"])
            t.add("tokenize.jobs", s["jobs"])
            t.add("pack.bins", len(bins))
            t.add("pack.fill", sum(bins.values()) / (len(bins) * BUDGET))
        return self._packed_ok(rows)

    def _packed_ok(self, rows) -> bool:
        """pack_sequences' documented layout: every kept doc exactly once,
        none over budget, and within each shard (``doc_id mod SHARDS``) the
        docs laid out in id order, each in the bin its start offset falls in."""
        want = sorted(i for i, r in self.corpus.expected.items() if r is None)
        if sorted(r.doc_id for r in rows) != want:
            return False
        offset = dict.fromkeys(range(SHARDS), 0)
        for r in sorted(rows, key=lambda r: r.doc_id):
            shard = r.doc_id % SHARDS
            if r.shard != shard or r.n_tokens > BUDGET or r.bin != offset[shard] // BUDGET:
                return False
            offset[shard] += r.n_tokens
        return True

    def search(self) -> bool:
        from mortar_parquet_support_spark.operators.similarity import cosine_topk_arrow

        t = self.b.tracer
        q = self.batch_no % N_BATCHES
        self.batch_no += 1
        with t.span("knn.brute") as s_b:
            brute = cosine_topk_arrow(self.emb, self.query_dfs[q], k=K).collect()
        t.add("knn.brute_s", s_b["s"])
        t.add("knn.jobs", s_b["jobs"])
        got: dict = {}
        for r in sorted(brute, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(r.query_id, []).append(r.neighbor_id)
        return got == self._want(q)

    def _want(self, q: int) -> dict:
        return {N_VECS + i: [int(x) for x in ids] for i, ids in enumerate(self.truth[q])}

    # -- phases ---------------------------------------------------------------
    def warm_up(self) -> None:
        self.b.op(None, lambda: self.curate(False))
        self.b.op(None, self.pack)
        self.b.op(None, self.search)

    def schedule(self):
        while True:
            for cls in self.ROUND:
                if cls == "curate":
                    yield cls, lambda: self.curate(True)
                elif cls == "pack":
                    yield cls, self.pack
                else:
                    yield cls, self.search

    def finish(self) -> None:
        """Traced runs count minhash candidate and verified pairs on the
        corpus that survives the language and contamination stages."""
        b, t = self.b, self.b.tracer
        if not t.enabled:
            return
        from pyspark.sql import functions as F

        from mortar_parquet_support_spark.operators.dedup import (
            minhash_dedup,
            minhash_lsh_candidates,
        )
        from mortar_parquet_support_spark.sources.corpus import read_jsonl, split_corrupt

        ids = [i for i, r in self.corpus.expected.items() if r in (None, "near_duplicate")]
        good, _ = split_corrupt(read_jsonl(b.spark, self.corpus.path, schema=SCHEMA))
        survivors = good.filter(F.col("doc_id").isin(ids))
        with t.span("dedup.minhash") as s:
            verified = minhash_dedup(survivors, id_col="doc_id", text_col="text").count()
        cands = minhash_lsh_candidates(survivors, id_col="doc_id", text_col="text").count()
        t.add("dedup.minhash_s", s["s"])
        t.add("dedup.jobs", s["jobs"])
        t.add("dedup.candidate_pairs", cands)
        t.add("dedup.verified_pairs", verified)
        t.add("dedup.verify_yield", verified / cands if cands else 0.0)

        from mortar_parquet_support_spark.operators.similarity import IvfIndex

        with t.span("ivf.build") as s:
            index = IvfIndex.build(self.emb, n_list=N_LIST, seed=b.seed)
        t.add("ivf.build_s", s["s"])
        try:
            for q, qdf in enumerate(self.query_dfs):
                with t.span("ivf.probe") as s:
                    rows = index.topk(qdf, k=K, nprobe=NPROBE).collect()
                t.add("ivf.probe_s", s["s"])
                hits = {(r.query_id, r.neighbor_id) for r in rows}
                want = self._want(q)
                t.add("ivf.recall_at_k", sum((i, n) in hits for i, ns in want.items() for n in ns) / (N_QUERIES * K))
                per_query: dict = {}
                for r in rows:
                    per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
                b.check(all(c <= K for c in per_query.values()), "IVF returned more than k neighbours")
        finally:
            index.unpersist()

    def end_to_end(self) -> dict:
        if not self.curate_rate:
            raise RuntimeError("no timed curate pass completed")
        return {
            "query_p50_s": self.b.p50("search"),
            "batch_p50_s": self.b.p50("pack"),
            "items_per_s": statistics.median(self.curate_rate),
        }

    def report(self) -> dict:
        out = {}
        if self.curate_rate:
            out["curate_docs_per_s"] = (statistics.median(self.curate_rate), "docs/s")
        return out
