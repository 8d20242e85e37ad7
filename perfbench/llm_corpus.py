"""Workload ``llm_corpus``: LLM data-prep operations over a seeded corpus.

One round is ten operations, each built through the package's public
functions or ``__spark_entry__``'s query functions over a corpus read uncached
(``register_testdata(parallelize=False)``) and fetched in full with
``TidyFrame.collect()``:

* clean/stats: t31 t43 t52
* dedup: d34 d35 d36 t68 t71
* search: s38 (exact top-k), s39 (LSH top-k)

s40 (IVF top-k) is left out: its recall floor fails on some seeds (see
README.md), and an operation whose check fails only on some seeds cannot
be part of a benchmark whose runs must all be correct.

``release_caches()`` follows every operation, as a long ingest session
would call it.
"""

from __future__ import annotations

import json
import os
import sys

import inputs
import checks

K = 10
QUERY_IDS = range(5)  # the entry queries' query set: vec_id < 5
D35_THRESHOLD = 0.8  # the d35 entry query's threshold
ANN_MIN_HITS = 5  # recall floor the ANN rows assert (_ann_invariant_row)

CLEAN = ("t31_text_stats", "t43_bpe_tokens", "t52_clean_corpus")
DEDUP = ("d34_dedup_exact", "d35_minhash_pairs", "d36_simhash_pairs",
         "t68_segment_dedup", "t71_contamination")
SEARCH = ("s38_cosine_topk", "s39_lsh_topk")


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def prepare(self) -> None:
        """Inputs and oracle answers, built in a child process when the
        cache lacks them (so DuckDB's memory is not counted as ours)."""
        import subprocess

        import pyarrow.parquet as pq

        subprocess.run(
            [sys.executable, os.path.join(inputs.HERE, "inputs.py"),
             "--seed", str(self.seed), "--reuse"],
            check=True, stdout=subprocess.DEVNULL,
        )
        self.dir = inputs.llm_dir(self.seed)
        self.oracle = {n: inputs.load_oracle(self.dir, n) for n in inputs.LLM_ORACLE_OPS}
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet")).to_pydict()
        self.texts = dict(zip(docs["doc_id"], docs["text"]))
        emb = pq.read_table(os.path.join(self.dir, "embeddings.parquet")).to_pandas()
        self.n_docs = len(self.texts)
        self.brute = checks.brute_cosine(emb, QUERY_IDS)
        with open(os.path.join(self.dir, "_planted_dups.json")) as fh:
            self.planted_exact = json.load(fh)["exact"]

    def start(self, spark, runner) -> None:
        from tidierdb_jl_spark import register_testdata

        sys.path.insert(0, os.path.dirname(inputs.HERE))
        import __spark_entry__ as entry

        self.spark = spark
        self.entry_queries = entry._BUILDERS
        self.tables = register_testdata(spark, self.dir, parallelize=False)

    # ------------------------------------------------------------------

    def _fetch(self, runner):
        def action(tf):
            pdf = tf.collect()
            if runner.tracer.enabled:
                runner.note("fetch.rows", len(pdf))
                runner.note("fetch.bytes", int(pdf.memory_usage(deep=True).sum()))
            return pdf

        return action

    def _after(self, runner) -> None:
        from tidierdb_jl_spark import release_caches

        n = release_caches()
        if runner.tracer.enabled and runner.measuring:
            runner.note("cache.released_frames", n)
            sc = self.spark.sparkContext
            runner.note("cache.storage_bytes", sum(
                r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo()
            ))

    def _oracle_check(self, name):
        return lambda pdf: checks.frames_match(pdf, self.oracle[name])

    def round(self, runner) -> None:
        from tidierdb_jl_spark.llm.simsearch import lsh_cosine_topk

        t, b, fetch = self.tables, self.entry_queries, self._fetch(runner)
        plan = []
        for name in CLEAN:
            plan.append((name, "clean", lambda n=name: b[n](t), self._oracle_check(name)))
        for name in DEDUP:
            check = (
                (lambda pdf: checks.check_dedup_pairs(
                    pdf, self.texts, self.planted_exact, D35_THRESHOLD))
                if name == "d35_minhash_pairs" else self._oracle_check(name)
            )
            plan.append((name, "dedup", lambda n=name: b[n](t), check))
        corpus = t["embeddings"]
        plan += [
            ("s38_cosine_topk", "search", lambda: b["s38_cosine_topk"](t),
             lambda pdf: checks.check_exact_topk(pdf, self.brute, K)),
            # s39 with the parameters of __spark_entry__'s s39 query; the raw
            # top-k rows are checked against the brute force
            ("s39_lsh_topk", "search",
             lambda: lsh_cosine_topk(corpus, corpus.filter("vec_id < 5"), k=K),
             lambda pdf: checks.check_recall(pdf, self.brute, K, ANN_MIN_HITS)),
        ]
        for name, cat, build, check in plan:
            runner.op(name, build, fetch, check, category=cat)
            self._after(runner)

    def final_checks(self, runner) -> list[str]:
        return []

    # ------------------------------------------------------------------

    def category_rates(self, runner) -> dict:
        """The workload's own throughputs (printed beside the result)."""
        n = {c: sum(len(runner.lat.get(o, [])) for o in ops)
             for c, ops in (("clean", CLEAN), ("dedup", DEDUP), ("search", SEARCH))}
        s = runner.category_s
        out = {}
        if s.get("clean"):
            out["clean_docs_per_s"] = round(n["clean"] * self.n_docs / s["clean"], 1)
        if s.get("dedup"):
            out["dedup_docs_per_s"] = round(n["dedup"] * self.n_docs / s["dedup"], 1)
        if s.get("search"):
            out["search_queries_per_s"] = round(n["search"] * len(QUERY_IDS) / s["search"], 2)
        return out

    def layer_extras(self, runner, tracer) -> dict:
        d35 = [o for o in runner.measured_ops if o.startswith("d35_")]
        rows = [tracer.counts[o].get("llm.band_join_rows", 0.0) for o in d35]
        return {"llm.d35_candidate_rows": (sum(rows) / len(rows) if rows else 0.0, "rows")}
