"""Curation half of ``batch_analytics``: the LLM-data funnel as registry keys.

One corpus: ``N_DOCS`` seeded word-salad documents (the sf0.1
documents count). Each round runs the keys in funnel order, each timed from the call to the last row (``toArrow``), split
into plan construction (the key function, including any eager cuts)
and execution.

Each key's survivor count is checked against the repo's DuckDB
oracle twin of the same key, run once in setup on the same corpus.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.compute as pc

from perfbench import datagen

N_DOCS = 5000
# key -> (survivor count over the Spark result, same over the oracle).
# The first four funnel stages fit the run budget; dedup_clusters,
# decontam_ngram_overlap, corpus_token_budget_sample and pack_sequences
# are left out (see perfbench/README.md).
KEYS = {
    "text_normalize": (None, "count(*)"),
    "quality_gopher_rules": ("keep", "count(*) FILTER (WHERE keep)"),
    "dedup_exact": (None, "count(*)"),
    "dedup_near_minhash": (None, "count(*)"),
}


def survivors(table, rule: str | None) -> int:
    if rule is None:
        return table.num_rows
    return int(pc.sum(table.column(rule)).as_py() or 0)


class Funnel:
    """The curation half of a batch round: funnel registry keys, cold."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs: dict = {}

    def setup(self, rep: int, rec) -> None:
        base = os.path.join(self.work, f"corpus{rep}")
        shutil.rmtree(base, ignore_errors=True)
        with rec.span("setup.corpus"):
            n = datagen.write_documents(datagen.base_documents(N_DOCS, self.seed),
                                        self.seed, base)
        if rep > 0:
            shutil.rmtree(os.path.join(self.work, f"corpus{rep - 1}"), ignore_errors=True)
        self.corpus = base
        self.inputs = {"documents": n}

    def prepare(self) -> None:
        from graph_database_akkatyped_spark.registry import collect

        queries, oracles = collect()
        self.queries = {k: queries[k] for k in KEYS}
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.corpus}/documents.parquet')"
            )
            self.want = {
                k: con.execute(f"SELECT {agg} FROM ({oracles[k]}) q").fetchone()[0]
                for k, (_rule, agg) in KEYS.items()
            }
        finally:
            con.close()
        self.inputs["survivors"] = dict(self.want)

    def round(self, rec, out: dict) -> None:
        """Run each key to its last row (``toArrow``), split into plan
        construction and execution, and check its survivor count."""
        for key, (rule, _agg) in KEYS.items():
            with rec.span(key) as sp:
                t0 = time.perf_counter()
                df = self.queries[key](self.spark, self.corpus)
                t1 = time.perf_counter()
                table = df.toArrow()
                sp.counts["build_ms"] = (t1 - t0) * 1e3
                sp.counts["exec_ms"] = (time.perf_counter() - t1) * 1e3
                sp.counts["rows"] = table.num_rows
            rec.phases(sp, df)
            if survivors(table, rule) != self.want[key]:
                out["failed_ops"].append(key)
