"""dedup_search: read-only closed loop, one client, over seeded
``documents`` and ``embeddings`` tables.

Each pass runs the search queries (the user-facing read) and the
dedup/chunking queries (the batch job) through ``engine.queries``; no
table operation runs.  Every result is compared with its DuckDB oracle
after the window, the way the repository's query tests compare them.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext
from decimal import Decimal

import duckdb

from common import Ctx, median
from engine.queries import ORACLES, QUERIES
from inputs import write_search_tables

N_DOCS = 5_000
N_VECS = 2_000
SETUP_REPEATS = 3
SEARCH = ["search_hybrid", "bm25_topk", "rrf_fusion", "cosine_topk"]
# the search pass is the short user-facing read: repeating it gives the
# read metric more samples per pass of the long dedup job
SEARCH_REPEATS = 3
DEDUP = [
    "dedup_exact", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_connected_components", "dedup_cosine_lsh", "chunk_fixed_size",
]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, Decimal):
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _canon(rows, columns) -> list[tuple]:
    """Order-insensitive, name-sorted, type-normalised rows."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class DedupSearch:
    name = "dedup_search"
    op_metric = "dedup_pass_s"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.records: list[dict] = []

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        gen = []
        for r in range(SETUP_REPEATS):
            self.sf_dir = os.path.join(ctx.work, f"tables-{r}")
            t0 = time.perf_counter()
            write_search_tables(self.sf_dir, N_DOCS, N_VECS, ctx.seed)
            gen.append(time.perf_counter() - t0)
        # one warm-up pass: a pass costs about the same on a tenth of the
        # input (fixed per-query costs dominate), and the pass after it is warm
        t0 = time.perf_counter()
        self.unit(-1)
        warmup = time.perf_counter() - t0
        self.records.clear()
        return {"corpus.generate_s": median(gen), "warmup_s": warmup}

    def _query(self, name: str) -> float:
        ctx = self.ctx

        def run():
            traced = ctx.tracer.span(f"query.{name}", "queries") if ctx.tracer else nullcontext()
            with traced:
                df = QUERIES[name](ctx.spark, self.sf_dir)
                return df.collect(), df.columns

        t0 = time.perf_counter()
        rows, cols = ctx.op(f"query.{name}", run)
        dt = time.perf_counter() - t0
        self.results.append((name, rows, cols))
        return dt

    def unit(self, _: int) -> tuple[float, list[float]]:
        """One pass: the search queries SEARCH_REPEATS times, then the dedup
        queries; returns (dedup pass seconds, search pass seconds)."""
        self.ctx.release()
        self.results: list[tuple] = []
        search = [sum(self._query(n) for n in SEARCH) for _ in range(SEARCH_REPEATS)]
        dedup_s = sum(self._query(n) for n in DEDUP)
        self.records.append({"search_s": median(search), "results": self.results})
        return dedup_s, search

    def verify(self) -> dict[str, tuple[float, str]]:
        ctx = self.ctx
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, t)}.parquet')")
            want = {}
            for name in SEARCH + DEDUP:
                rel = con.sql(ORACLES[name])
                want[name] = _canon(rel.fetchall(), rel.columns)
        finally:
            con.close()
        for k, rec in enumerate(self.records):
            for name, rows, cols in rec["results"]:
                ctx.check(_canon([tuple(r) for r in rows], cols) == want[name],
                          f"pass {k}: {name} differs from its DuckDB oracle")
            rec["results"] = None
        return {"search_pass_s": (median([r["search_s"] for r in self.records]), "s")}

    def layer_metrics(self, tracer) -> dict[str, float]:
        t = self.ctx.times
        out = {f"query.{n}_s": median(t.get(f"query.{n}", [])) for n in SEARCH + DEDUP}
        for name, queries in (("search_pass", SEARCH), ("dedup_pass", DEDUP)):
            counts = self.ctx.spark_counts([f"query.{n}" for n in queries])
            out[f"{name}.spark_jobs"] = sum(counts[f"query.{n}.spark_jobs"] for n in queries)
            out[f"{name}.tasks"] = sum(counts[f"query.{n}.tasks"] for n in queries)
        return out
