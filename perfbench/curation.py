"""The ``curation`` workload: passes over catalog queries.

The corpus (``documents`` and ``embeddings``) is generated from the
seed into the run's directory, and one untimed pass warms the fresh
JVM (class loading, JIT compilation, Python workers, each query's
first code generation).  Set-up is the
program opening the corpus: each table loaded with
``sources.tables.load_table`` and counted, three times.  A pass runs
every query once, in an order the seed permutes, closed loop with one
client.  Each query is split into construction (the catalog function
call, including the eager jobs it fires) and execution (collecting
its rows; the results are small).  After each pass, every query's rows
are compared with its DuckDB oracle SQL over the same parquet.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

import duckdb

from serverless_podcast_etl_spark.plans.catalog import CATALOG
from serverless_podcast_etl_spark.sources.tables import load_table

from . import inputs
from .workload import Op, guarded, same_rows, tree_stats

# Mostly construction (eager jobs): q97 (near-dup ensemble), q122 (BM25
# index build and probe), q74 (token-budget selection).  About even
# between construction and execution: q110 (containment near-dups), q22
# (exact cosine top-k, the similarity operators).
QUERIES = [
    "q22_ann_topk",
    "q74_token_budget_selection",
    "q97_neardup_ensemble",
    "q110_containment_neardup",
    "q122_bm25_indexed_retrieval",
]
# Index directories the queries above write under the checkout, per
# corpus dir.
INDEX_DIRS = ["q122_bm25_index"]
ORACLE_TABLES = ["documents", "embeddings"]
SETUP_REPEATS = 3


class CurationWorkload:
    def __init__(self, spark, work: str, seed: int, tracer, repo: str):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.rng = random.Random(seed)
        # the catalog keys its on-disk indexes by the corpus dir's name
        self.corpus = os.path.join(work, f"corpus-{os.path.basename(work)}")
        self.index_dirs = [
            os.path.join(repo, ".cache", d, os.path.basename(self.corpus)) for d in INDEX_DIRS
        ]
        self.results: dict = {}
        self.oracles: dict = {}
        self.input_bytes = self.stored_bytes = self.files_written = 0

    def warm_up(self) -> list[Op]:
        """Write the seeded corpus, then one untimed, checked pass: the
        fresh JVM's class loading, JIT compilation and first Python
        workers, and each query's first planning and code generation,
        land there."""
        os.makedirs(self.corpus)
        self.input_bytes = inputs.write_curation_tables(self.seed, self.corpus)
        # the oracles need only the corpus; DuckDB computes them while
        # the untimed warm-up runs
        oracles = threading.Thread(target=self._oracles)
        oracles.start()
        try:
            return self.run_pass()
        finally:
            oracles.join()

    def setup(self) -> list[float]:
        """Open the corpus: ``load_table`` and count each table,
        ``SETUP_REPEATS`` times; the runner reports the median."""
        want = {t: inputs.CURATION_ROWS[t] for t in ORACLE_TABLES}
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            got = {name: load_table(self.spark, self.corpus, name).count() for name in want}
            times.append(time.perf_counter() - t)
            if got != want:
                raise RuntimeError(f"corpus tables hold {got} rows, expected {want}")
        return times

    def _run(self, q: str):
        with self.tracer.span("construct", query=q):
            df = CATALOG[q].fn(self.spark, self.corpus)
        with self.tracer.span("execute", query=q):
            return df.columns, df.collect()

    def run_pass(self) -> list[Op]:
        ops = []
        for q in self.rng.sample(QUERIES, len(QUERIES)):
            op = Op("query", q)
            with self.tracer.span(f"query.{q}", op="query"), op.timed():
                got = guarded(op, self._run, q)
            if got:
                self.results[q] = got
            ops.append(op)
        stats = [tree_stats(d) for d in self.index_dirs if os.path.isdir(d)]
        self.files_written = sum(f for f, _ in stats)
        self.stored_bytes = sum(b for _, b in stats)
        self.ops = ops
        return ops

    def _oracles(self) -> None:
        """Columns and rows of every query's DuckDB oracle over the
        corpus, once per run: the corpus does not change."""
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in QUERIES:
                cur = con.execute(CATALOG[q].sql)
                self.oracles[q] = ([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    def run_checks(self) -> None:
        for op in self.ops:
            if op.name not in self.results:
                continue
            cols, rows = self.results.pop(op.name)
            if op.name not in self.oracles:
                op.fail("its DuckDB oracle raised")
                continue
            want_cols, want = self.oracles[op.name]
            if want_cols != cols:
                op.fail(f"columns {cols}, oracle {want_cols}")
                continue
            problem = same_rows([tuple(r) for r in rows], want, False)
            if problem:
                op.fail(f"{op.name}: {problem}")

    def cleanup(self) -> None:
        for d in self.index_dirs:
            shutil.rmtree(d, ignore_errors=True)
